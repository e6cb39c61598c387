"""Source/sink tests (SURVEY §2.1 O1/O4/O5): reference-format CSV scan,
partitioned sink layout, delete-then-rewrite centroid sink semantics."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kmeans_mapreduce_spark.operators import kmeans as km
from kmeans_mapreduce_spark.schema import POINTS_2D
from kmeans_mapreduce_spark.sources import loaders


def test_read_points_csv_reference_format(spark, tmp_path):
    # the reference's exact on-disk format: one "x,y" line per point
    # (/root/reference/master.py:286-288)
    p = tmp_path / "points.txt"
    p.write_text("1.5,2.5\n-3.0,4.25\n0.0,0.0\n")
    df = loaders.read_points_csv(spark, str(p))
    rows = df.orderBy("x").collect()
    assert len({r["point_id"] for r in rows}) == 3  # ids unique (the contract)
    assert {(r["x"], r["y"]) for r in rows} == {(1.5, 2.5), (-3.0, 4.25), (0.0, 0.0)}


def test_load_table_infers_each_file_version_once(spark, tmp_path):
    """The load chokepoint pays schema inference (a Spark job) once per
    file version: a second load of an unchanged file starts no job, and
    rewriting the file with an added column makes the next load show
    that column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    sf = str(tmp_path)
    path = f"{sf}/t.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"load_table_memo_{os.getpid()}_{tmp_path.name}"

    def load_jobs(tag):
        sc.setJobGroup(f"{group}_{tag}", "load_table")
        try:
            df = loaders.load_table(spark, sf, "t")
        finally:
            sc.setJobGroup("", "")
        return df, list(tracker.getJobIdsForGroup(f"{group}_{tag}"))

    _, first = load_jobs("first")
    assert first, "the first load infers the schema with a Spark job"
    df, second = load_jobs("second")
    assert second == [], "an unchanged file must not be re-inferred"
    assert sorted(r["a"] for r in df.collect()) == [1, 2]

    pq.write_table(pa.table({"a": [3, 4], "b": ["x", "y"]}), path)
    df = loaders.load_table(spark, sf, "t")
    assert df.columns == ["a", "b"]
    assert sorted((r["a"], r["b"]) for r in df.collect()) == [(3, "x"), (4, "y")]


def test_parquet_schema_reinfers_when_a_schema_conf_flips(spark, tmp_path):
    """The memo is keyed by the confs that change inference: the same
    file reads BINARY as STRING once ``binaryAsString`` is on."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import BinaryType, StringType

    path = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x"], pa.binary())}), path)
    key = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(key)
    assert isinstance(loaders.parquet_schema(spark, path)["b"].dataType, BinaryType)
    spark.conf.set(key, "true")
    try:
        assert isinstance(loaders.parquet_schema(spark, path)["b"].dataType, StringType)
    finally:
        spark.conf.set(key, before)
    assert isinstance(loaders.parquet_schema(spark, path)["b"].dataType, BinaryType)


def test_write_centroids_overwrite_keeps_latest_generation(spark, tmp_path):
    path = str(tmp_path / "centroids")
    gen1 = spark.createDataFrame([(0, 1.0, 1.0), (1, 2.0, 2.0)], "cid INT, cx DOUBLE, cy DOUBLE")
    gen2 = spark.createDataFrame([(0, 9.0, 9.0), (1, 8.0, 8.0)], "cid INT, cx DOUBLE, cy DOUBLE")
    loaders.write_centroids(gen1, path)
    loaders.write_centroids(gen2, path)
    back = {r["cid"]: (r["cx"], r["cy"]) for r in spark.read.parquet(path).collect()}
    # overwrite ≡ the reference's delete-then-rewrite (master.py:90-95):
    # only the latest generation survives
    assert back == {0: (9.0, 9.0), 1: (8.0, 8.0)}


def test_write_partitioned_layout(spark, tmp_path):
    path = str(tmp_path / "assigned")
    pts = spark.createDataFrame(
        [(i, float(i), float(i)) for i in range(8)], POINTS_2D
    )
    assigned = km.assign(pts, [(0, 0.0, 0.0), (1, 7.0, 7.0)])
    loaders.write_partitioned(assigned, path, key="cid")
    dirs = {d for d in os.listdir(path) if d.startswith("cid=")}
    assert dirs == {"cid=0", "cid=1"}
    back = spark.read.parquet(path)
    assert back.count() == 8
    assert back.filter(F.col("cid") == 0).count() == 4


def test_write_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Two tables bucketed 8x8 on the same key must sort-merge-join
    with ZERO exchanges — the co-located 100 TB join layout."""
    from kmeans_mapreduce_spark import plans

    a = spark.createDataFrame(
        [(i, float(i)) for i in range(1000)], "k LONG, va DOUBLE"
    )
    b = spark.createDataFrame(
        [(i, float(i * 2)) for i in range(0, 1000, 2)], "k LONG, vb DOUBLE"
    )
    loaders.write_bucketed(a, "bt_a", "k", 8, path=str(tmp_path / "bt_a"))
    loaders.write_bucketed(b, "bt_b", "k", 8, path=str(tmp_path / "bt_b"))
    # tiny test tables would broadcast (which disables bucketed scans);
    # force the shuffle-join path a 100 TB join would take so the plan
    # shows what bucketing buys: a sort-merge join with NO exchange
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bt_a").join(spark.table("bt_b"), "k")
        plan = plans.explain_str(joined)
        assert "Exchange" not in plan
        assert "SortMergeJoin" in plan
        assert joined.count() == 500
        got = {r["k"]: r["vb"] for r in joined.collect()}
        assert got[4] == 8.0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
        spark.sql("DROP TABLE IF EXISTS bt_a")
        spark.sql("DROP TABLE IF EXISTS bt_b")


def test_ivf_index_persist_probe_bucket_pruned(spark, tmp_path, sf_dir):
    """The production IVF shape: build the index ONCE, persist it
    bucketed by cell, then probe the read-back table. Asserts (a) the
    probe results are identical to the in-memory ivf_ann_topk_centers
    path, (b) the probed ``cell IN (...)`` filter prunes buckets at
    the scan (SelectedBucketsCount < total), and (c) the index side
    reaches the broadcast probe join with no cell-keyed exchange."""
    import re

    from kmeans_mapreduce_spark import plans
    from kmeans_mapreduce_spark.operators import similarity as sim
    from kmeans_mapreduce_spark.sources.loaders import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    crows = (
        emb.filter(F.col("vec_id").isin([0, 1, 2, 3]))
        .orderBy("vec_id")
        .collect()
    )
    centers = [
        (i, [float(x) for x in r["embedding"]]) for i, r in enumerate(crows)
    ]
    qids = [5, 17]
    qvecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id").isin(qids)).collect()
    }
    expect = {
        (r["query_id"], r["neighbor_id"], r["rank"], r["cosine"])
        for r in sim.ivf_ann_topk_centers(
            emb, centers, qids, k=3, nprobe=2
        ).collect()
    }

    sim.persist_ivf_index(
        emb, centers, "ivf_idx_test", buckets=8,
        path=str(tmp_path / "ivf_idx"),
    )
    try:
        out = sim.probe_ivf_index(
            spark.table("ivf_idx_test"), centers, qvecs, k=3, nprobe=2
        )
        plan = plans.explain_str(out)
        m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
        assert m, "bucketed scan must report bucket pruning"
        assert int(m.group(1)) < int(m.group(2))
        assert "BroadcastHashJoin" in plan
        # the only exchange is the final Q-row rank window; the index
        # side is never reshuffled on cell
        assert "hashpartitioning(cell" not in plan
        got = {
            (r["query_id"], r["neighbor_id"], r["rank"], r["cosine"])
            for r in out.collect()
        }
        assert got == expect and len(got) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS ivf_idx_test")


def test_pq_index_persist_probe_bucket_pruned(spark, tmp_path, sf_dir):
    """Same built-once-queried-many contract for the IVF-PQ codes
    table: persisted bucketed by cell, the read-back ADC probe prunes
    buckets and matches the in-memory ivf_pq_ann_topk_quantizers
    ranking exactly."""
    import re

    import numpy as np

    from kmeans_mapreduce_spark import plans
    from kmeans_mapreduce_spark.operators import similarity as sim
    from kmeans_mapreduce_spark.sources.loaders import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    fetch = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 24).collect()
    }
    centers = [(i, fetch[vid]) for i, vid in enumerate(range(4))]
    dim = len(centers[0][1])
    m, n_codes = 4, 8
    sub = dim // m
    CB = np.array([sim._norm_py(fetch[vid]) for vid in range(8, 24, 2)])
    books = [CB[:, mi * sub : (mi + 1) * sub].tolist() for mi in range(m)]
    qids = [5, 17]
    qvecs = {q: fetch[q] for q in qids}

    expect = {
        tuple(r)
        for r in sim.ivf_pq_ann_topk_quantizers(
            emb, centers, books, qids, k=3, nprobe=2
        ).collect()
    }
    sim.persist_pq_index(
        emb, centers, books, "pq_idx_test", buckets=8,
        path=str(tmp_path / "pq_idx"),
    )
    try:
        out = sim.probe_pq_index(
            spark.table("pq_idx_test"), centers, books, qvecs, k=3, nprobe=2
        )
        plan = plans.explain_str(out)
        mt = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
        assert mt and int(mt.group(1)) < int(mt.group(2))
        assert "hashpartitioning(cell" not in plan
        got = {tuple(r) for r in out.collect()}
        assert got == expect and len(got) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS pq_idx_test")


def test_documents_jsonl_roundtrip(spark, tmp_path):
    """JSONL source/sink roundtrip: schema'd read (no inference pass),
    values and types survive, and the parquet-sourced operators run
    unchanged on a JSONL-sourced frame."""
    from kmeans_mapreduce_spark.operators import textops as tx
    from kmeans_mapreduce_spark.sources.loaders import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    path = str(tmp_path / "docs_jsonl")
    loaders.write_documents_jsonl(docs, path)
    back = loaders.read_documents_jsonl(spark, path)
    assert back.schema == docs.select(
        "doc_id", "text", "lang", "source", "n_chars"
    ).schema
    assert back.count() == docs.count()
    a = sorted(r["fingerprint"] for r in tx.fingerprint(docs).collect())
    b = sorted(r["fingerprint"] for r in tx.fingerprint(back).collect())
    assert a == b


def test_documents_orc_roundtrip_and_pushdown(spark, tmp_path):
    """ORC source/sink roundtrip with the same pushdown contract as
    parquet: values survive bit-for-bit and a doc_id predicate reaches
    the stripe reader as a pushed filter."""
    from kmeans_mapreduce_spark import plans
    from kmeans_mapreduce_spark.operators import textops as tx
    from kmeans_mapreduce_spark.sources.loaders import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    path = str(tmp_path / "docs_orc")
    loaders.write_documents_orc(docs, path)
    back = loaders.read_documents_orc(spark, path)
    assert back.count() == docs.count()
    a = sorted(r["fingerprint"] for r in tx.fingerprint(docs).collect())
    b = sorted(r["fingerprint"] for r in tx.fingerprint(back).collect())
    assert a == b
    filtered = back.filter(F.col("doc_id") < 10).select("doc_id")
    assert plans.has_pushed_filters(filtered)
    assert plans.scan_columns(filtered) == ["doc_id"]


def test_partitioned_sink_prunes_partitions(spark, tmp_path):
    """Reading one partition of a partitionBy sink must prune at the
    file listing (PartitionFilters on the scan), not post-filter rows —
    at 100 TB this is the difference between touching one directory
    and scanning the lake."""
    from pyspark.sql import functions as F

    from kmeans_mapreduce_spark import plans
    from kmeans_mapreduce_spark.sources.loaders import load_table

    out = str(tmp_path / "events_by_type")
    load_table(spark, "/root/testdata/sf0.001", "events").write.partitionBy("event_type").parquet(out)
    one = spark.read.parquet(out).filter(F.col("event_type") == "click")
    pf = plans.partition_filters(one)
    assert "event_type" in pf and "click" in pf
    assert not plans.has_pushed_filters(one), (
        "partition predicate must prune, not push as a row filter"
    )
    assert one.count() == (
        load_table(spark, "/root/testdata/sf0.001", "events").filter(F.col("event_type") == "click").count()
    )


def test_read_evolved_parquet_merges_added_column(spark, tmp_path):
    """Older generation lacks `lang`; merged read surfaces it as NULL
    for old rows and typed for new ones."""
    from kmeans_mapreduce_spark.sources.loaders import read_evolved_parquet

    base = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(1, "old doc")], "doc_id LONG, text STRING"
    ).write.parquet(f"{base}/gen=0")
    spark.createDataFrame(
        [(2, "new doc", "en")], "doc_id LONG, text STRING, lang STRING"
    ).write.parquet(f"{base}/gen=1")
    got = {
        r["doc_id"]: (r["text"], r["lang"])
        for r in read_evolved_parquet(spark, base).collect()
    }
    assert got == {1: ("old doc", None), 2: ("new doc", "en")}


def test_write_sorted_rowgroup_stats_disjoint(spark, tmp_path):
    """The sorted sink must produce files whose parquet min/max key
    ranges do not overlap — the precondition for stats-based skipping;
    a range filter must still return exactly the right rows."""
    import glob

    import pyarrow.parquet as pq

    from kmeans_mapreduce_spark.sources.loaders import write_sorted

    out = str(tmp_path / "sorted")
    df = spark.range(0, 10_000).withColumn(
        "k", (F.col("id") * 2654435761 % 10_000).cast("long")
    )
    write_sorted(df, out, key="k", files=4)
    ranges = []
    for f in glob.glob(f"{out}/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        ki = next(
            i for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == "k"
        )
        stats = [md.row_group(g).column(ki).statistics for g in range(md.num_row_groups)]
        ranges.append((min(s.min for s in stats), max(s.max for s in stats)))
    ranges.sort()
    assert len(ranges) == 4
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi <= lo  # disjoint (or touching) file ranges
    got = spark.read.parquet(out).filter(F.col("k") < 100).count()
    want = df.filter(F.col("k") < 100).count()
    assert got == want


def test_write_zorder_prunes_2d_box_better_than_1d_sort(spark, tmp_path):
    """The z-ordered layout must let a 2-D box predicate skip more row
    groups (by parquet min/max stats on BOTH columns) than a layout
    sorted on x alone — the property that makes the sink worth its
    extra pass — and reads must stay exact."""
    import glob

    import pyarrow.parquet as pq

    from kmeans_mapreduce_spark.sources.loaders import write_sorted, write_zorder

    # two INDEPENDENT pseudo-random dims (hashes with different salts;
    # affine functions of id would correlate and degenerate the test)
    df = (
        spark.range(0, 40_000)
        .withColumn("x", F.pmod(F.xxhash64("id"), F.lit(1000)).cast("double"))
        .withColumn(
            "y", F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1000)).cast("double")
        )
        .drop("id")
    )

    def groups_hit(path: str, lo: float, hi: float) -> tuple[int, int]:
        hit = total = 0
        for f in glob.glob(f"{path}/part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = {
                md.row_group(0).column(i).path_in_schema: i
                for i in range(md.num_columns)
            }
            for g in range(md.num_row_groups):
                total += 1
                sx = md.row_group(g).column(idx["x"]).statistics
                sy = md.row_group(g).column(idx["y"]).statistics
                if sx.min <= hi and sx.max >= lo and sy.min <= hi and sy.max >= lo:
                    hit += 1
        return hit, total

    z_out = str(tmp_path / "zorder")
    s_out = str(tmp_path / "xsort")
    write_zorder(df, z_out, cols=["x", "y"], files=64)
    write_sorted(df, s_out, key="x", files=64)

    lo, hi = 100.0, 200.0  # ~1% of the (x, y) plane
    z_hit, z_total = groups_hit(z_out, lo, hi)
    s_hit, s_total = groups_hit(s_out, lo, hi)
    assert z_total >= 64 and s_total >= 64
    # x-sort can bound x but knows nothing about y; z-order bounds both
    assert z_hit / z_total < s_hit / s_total

    box = (F.col("x") >= lo) & (F.col("x") <= hi) & (F.col("y") >= lo) & (F.col("y") <= hi)
    assert spark.read.parquet(z_out).filter(box).count() == df.filter(box).count()


def test_merge_upsert_latest_version_wins_and_idempotent(spark, tmp_path):
    from kmeans_mapreduce_spark.sources.loaders import merge_upsert

    target = str(tmp_path / "dim")
    b1 = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 10), (3, "c", 10)], "k LONG, v STRING, ver LONG"
    )
    merge_upsert(spark, target, b1, key="k", version_col="ver")
    # batch 2: update k=2, insert k=4, stale row for k=3 (older version)
    b2 = spark.createDataFrame(
        [(2, "B", 20), (4, "d", 20), (3, "STALE", 5)], "k LONG, v STRING, ver LONG"
    )
    merge_upsert(spark, target, b2, key="k", version_col="ver")
    got = {r["k"]: (r["v"], r["ver"]) for r in spark.read.parquet(target).collect()}
    assert got == {1: ("a", 10), 2: ("B", 20), 3: ("c", 10), 4: ("d", 20)}
    # re-applying the same batch changes nothing (idempotent merge)
    merge_upsert(spark, target, b2, key="k", version_col="ver")
    again = {r["k"]: (r["v"], r["ver"]) for r in spark.read.parquet(target).collect()}
    assert again == got
    # same key+version as target resolves to the update, not the old row
    b3 = spark.createDataFrame([(1, "A2", 10)], "k LONG, v STRING, ver LONG")
    merge_upsert(spark, target, b3, key="k", version_col="ver")
    assert {
        r["k"]: r["v"] for r in spark.read.parquet(target).collect()
    }[1] == "A2"


def test_merge_upsert_recovers_from_crash_between_renames(spark, tmp_path):
    """Simulate a crash after the old generation was renamed aside but
    before the staged table moved in: the next merge must restore the
    previous generation and apply its batch on top of it."""
    import os

    from kmeans_mapreduce_spark.sources.loaders import merge_upsert

    target = str(tmp_path / "dim")
    b1 = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 10)], "k LONG, v STRING, ver LONG"
    )
    merge_upsert(spark, target, b1, key="k", version_col="ver")
    # crash window: target renamed aside, staged never moved in
    os.rename(target, f"{target}._old")
    assert not os.path.isdir(target)
    b2 = spark.createDataFrame([(3, "c", 20)], "k LONG, v STRING, ver LONG")
    merge_upsert(spark, target, b2, key="k", version_col="ver")
    got = {r["k"]: r["v"] for r in spark.read.parquet(target).collect()}
    assert got == {1: "a", 2: "b", 3: "c"}  # b1 survived the crash


def test_compact_small_files_reduces_file_count_preserves_rows(spark, tmp_path):
    import glob

    from kmeans_mapreduce_spark.sources.loaders import compact_small_files

    out = str(tmp_path / "frag")
    df = spark.range(0, 20_000).withColumn("v", F.col("id") * 2)
    df.repartition(40).write.parquet(out)
    assert len(glob.glob(f"{out}/part-*.parquet")) == 40
    compact_small_files(spark, out, target_bytes=1 << 30)
    files = glob.glob(f"{out}/part-*.parquet")
    assert len(files) == 1
    back = spark.read.parquet(out)
    assert back.count() == 20_000
    assert back.agg(F.sum("v")).collect()[0][0] == df.agg(F.sum("v")).collect()[0][0]


def test_read_warc_parses_records_and_strips_http_headers(spark, tmp_path):
    from kmeans_mapreduce_spark.sources.loaders import read_warc

    def rec(rtype, uri, body, ctype="text/html", http=False):
        if http:
            body = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body
        head = (
            f"WARC/1.0\r\nWARC-Type: {rtype}\r\n"
            f"WARC-Record-ID: <urn:uuid:{rtype}-{uri}>\r\n"
            f"WARC-Target-URI: {uri}\r\nContent-Type: {ctype}\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode()
        return head + body + b"\r\n\r\n"

    warc = (
        rec("warcinfo", "-", b"software: test")  # skipped (not response)
        + rec("response", "http://a.example/", b"<html>hello A</html>", http=True)
        # binary payload containing the magic must not break framing
        + rec("resource", "http://b.example/img", b"\x00WARC/1.0\x00bytes",
              ctype="application/octet-stream")
        + rec("response", "http://c.example/", b"plain body no http block")
    )
    (tmp_path / "crawl-00000.warc").write_bytes(warc)

    rows = {r["target_uri"]: r for r in read_warc(spark, str(tmp_path)).collect()}
    assert set(rows) == {
        "http://a.example/", "http://b.example/img", "http://c.example/",
    }
    assert bytes(rows["http://a.example/"]["payload"]) == b"<html>hello A</html>"
    assert bytes(rows["http://b.example/img"]["payload"]) == b"\x00WARC/1.0\x00bytes"
    assert rows["http://b.example/img"]["record_type"] == "resource"
    assert bytes(rows["http://c.example/"]["payload"]) == b"plain body no http block"
    assert rows["http://a.example/"]["content_length"] == len(b"<html>hello A</html>")


def test_read_warc_gz_per_record_members(spark, tmp_path):
    """CommonCrawl wire format: one gzip member per record,
    concatenated into a .warc.gz — must parse identically to the
    uncompressed archive; a whole-file single-member gzip and a
    trailing truncated member must degrade gracefully."""
    import gzip

    from kmeans_mapreduce_spark.sources.loaders import read_warc

    def rec(rtype, uri, body):
        head = (
            f"WARC/1.0\r\nWARC-Type: {rtype}\r\n"
            f"WARC-Record-ID: <urn:uuid:{uri}>\r\n"
            f"WARC-Target-URI: {uri}\r\nContent-Type: text/plain\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode() + body + b"\r\n\r\n"
        return head

    recs = [
        rec("response", "http://a.example/", b"body A"),
        rec("warcinfo", "-", b"software: test"),  # skipped type
        rec("resource", "http://b.example/", b"\x00WARC/1.0\x00 binary"),
    ]
    # per-record members (the CommonCrawl layout)
    (tmp_path / "multi" ).mkdir()
    (tmp_path / "multi" / "c.warc.gz").write_bytes(
        b"".join(gzip.compress(r) for r in recs)
    )
    # whole-archive single member
    (tmp_path / "single").mkdir()
    (tmp_path / "single" / "c.warc.gz").write_bytes(
        gzip.compress(b"".join(recs))
    )
    # good member followed by a truncated one: keep the good record
    (tmp_path / "trunc").mkdir()
    (tmp_path / "trunc" / "c.warc.gz").write_bytes(
        gzip.compress(recs[0]) + gzip.compress(recs[2])[:10]
    )

    for layout, want in [
        ("multi", {"http://a.example/", "http://b.example/"}),
        ("single", {"http://a.example/", "http://b.example/"}),
        ("trunc", {"http://a.example/"}),
    ]:
        rows = {
            r["target_uri"]: r
            for r in read_warc(spark, str(tmp_path / layout)).collect()
        }
        assert set(rows) == want, layout
        assert bytes(rows["http://a.example/"]["payload"]) == b"body A"
    # mixed directory: .warc and .warc.gz side by side both load
    (tmp_path / "mixed").mkdir()
    (tmp_path / "mixed" / "u.warc").write_bytes(recs[0])
    (tmp_path / "mixed" / "z.warc.gz").write_bytes(gzip.compress(recs[2]))
    mixed = read_warc(spark, str(tmp_path / "mixed")).collect()
    assert {r["target_uri"] for r in mixed} == {
        "http://a.example/", "http://b.example/",
    }


@pytest.mark.parametrize("gz", [False, True])
def test_warc_to_text_pipeline_end_to_end(spark, tmp_path, gz):
    """Crawl ingestion composes: WARC -> HTML text extraction ->
    quality scoring — the full entry path of a training-data pipeline,
    with script/style boilerplate dropped."""
    from kmeans_mapreduce_spark.operators import textops as tx
    from kmeans_mapreduce_spark.sources.loaders import read_warc

    html_a = (
        b"<html><head><title>T</title><style>body{color:red}</style>"
        b"<script>var x = 'the hidden script text';</script></head>"
        b"<body><h1>Fox News</h1><p>the quick brown fox jumps over "
        b"the lazy dog</p></body></html>"
    )
    html_b = b"<html><body><p>short&amp;sweet</p></body></html>"

    def rec(uri, body):
        http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body
        head = (
            f"WARC/1.0\r\nWARC-Type: response\r\n"
            f"WARC-Record-ID: <urn:uuid:{uri}>\r\n"
            f"WARC-Target-URI: {uri}\r\nContent-Type: text/html\r\n"
            f"Content-Length: {len(http)}\r\n\r\n"
        ).encode()
        return head + http + b"\r\n\r\n"

    if gz:
        import gzip

        (tmp_path / "c.warc.gz").write_bytes(
            gzip.compress(rec("http://a.example/", html_a))
            + gzip.compress(rec("http://b.example/", html_b))
        )
    else:
        (tmp_path / "c.warc").write_bytes(
            rec("http://a.example/", html_a) + rec("http://b.example/", html_b)
        )
    pages = read_warc(spark, str(tmp_path))
    texts = tx.extract_html_text(pages)
    got = {r["doc_key"]: r["text"] for r in texts.collect()}
    assert "hidden script" not in got["http://a.example/"]
    assert "color:red" not in got["http://a.example/"]
    assert "quick brown fox" in got["http://a.example/"]
    assert got["http://b.example/"] == "short&sweet"  # charref decoded

    # extracted text feeds the standard pipeline unchanged
    docs = texts.selectExpr(
        "monotonically_increasing_id() AS doc_id", "text"
    )
    q = tx.quality(docs).collect()
    assert len(q) == 2 and all(r["quality_score"] is not None for r in q)


def test_read_warc_skips_malformed_length_records(spark, tmp_path):
    """REGRESSION: a corrupt Content-Length must skip that record and
    resynchronize, not crash the task; a .warc.gz sidecar that is not
    actually gzip data must yield nothing, not crash."""
    from kmeans_mapreduce_spark.sources.loaders import read_warc

    good_body = b"good payload"
    good = (
        f"WARC/1.0\r\nWARC-Type: resource\r\n"
        f"WARC-Record-ID: <urn:uuid:g>\r\n"
        f"WARC-Target-URI: http://good.example/\r\n"
        f"Content-Length: {len(good_body)}\r\n\r\n"
    ).encode() + good_body + b"\r\n\r\n"
    bad = (
        b"WARC/1.0\r\nWARC-Type: resource\r\n"
        b"WARC-Target-URI: http://bad.example/\r\n"
        b"Content-Length: 12abc\r\n\r\n"
        b"junk body\r\n\r\n"
    )
    missing = (
        b"WARC/1.0\r\nWARC-Type: resource\r\n"
        b"WARC-Target-URI: http://nolen.example/\r\n\r\n"
        b"body\r\n\r\n"
    )
    (tmp_path / "c.warc").write_bytes(bad + missing + good)
    (tmp_path / "sidecar.warc.gz").write_bytes(b"\x1f\x8b not a warc")

    rows = read_warc(spark, str(tmp_path)).collect()
    assert [r["target_uri"] for r in rows] == ["http://good.example/"]
    assert bytes(rows[0]["payload"]) == good_body


def test_jsonl_quarantine_splits_good_and_corrupt(spark, tmp_path):
    from kmeans_mapreduce_spark.sources.loaders import (
        read_documents_jsonl_quarantine,
    )

    lines = [
        '{"doc_id": 1, "text": "hello world", "lang": "en", "source": "s", "n_chars": 11}',
        "{not json at all",
        '{"doc_id": 2, "text": "second", "lang": "de", "source": "s", "n_chars": 6}',
        '{"doc_id": "NOT_A_NUMBER", "text": "bad type", "lang": "en", "source": "s", "n_chars": 8}',
    ]
    (tmp_path / "corpus.jsonl").write_text("\n".join(lines) + "\n")
    good, bad = read_documents_jsonl_quarantine(spark, str(tmp_path))
    assert {r["doc_id"] for r in good.collect()} == {1, 2}
    quarantined = [r["_corrupt_record"] for r in bad.collect()]
    assert len(quarantined) == 2
    assert any("not json" in q for q in quarantined)
    assert any("NOT_A_NUMBER" in q for q in quarantined)


def test_write_token_shards_budgets_and_order(spark, tmp_path):
    """Shard directories hold ~budget tokens each (every shard but the
    last crosses its budget boundary with its final doc, by the
    prefix-sum definition) and rows inside a shard read back in
    shuffle-key order."""
    from kmeans_mapreduce_spark.sources.loaders import write_token_shards

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (1 + i % 9))) for i in range(300)],
        "doc_id LONG, text STRING",
    )
    out = str(tmp_path / "shards")
    write_token_shards(docs, out, shard_tokens=100)

    back = spark.read.parquet(out)
    assert back.count() == 300
    rows = back.select("shard", "shuffle_key", "n_tok", "cum_before").collect()
    by_shard: dict[int, list] = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
    shards = sorted(by_shard)
    assert shards == list(range(len(shards)))
    total = sum(1 + i % 9 for i in range(300))
    assert sum(r["n_tok"] for rs in by_shard.values() for r in rs) == total
    for s in shards:
        rs = sorted(by_shard[s], key=lambda r: r["shuffle_key"])
        start = min(r["cum_before"] for r in rs)
        end = max(r["cum_before"] + r["n_tok"] for r in rs)
        # each shard begins in its own budget window...
        assert start // 100 == s
        # ...and every shard except the last reaches its boundary
        if s != shards[-1]:
            assert end >= (s + 1) * 100
    # within-shard file order is shuffle-key order: read one shard dir
    # directly and compare against its sorted self
    one = spark.read.parquet(f"{out}/shard={shards[0]}")
    got = [r["shuffle_key"] for r in one.collect()]
    assert got == sorted(got)


def test_merge_scd2_history_suppression_and_backfill(spark, tmp_path):
    """SCD-2: changed attrs open a new version and close the old one;
    unchanged re-sends collapse into the existing run (idempotent);
    a late-arriving middle version re-links the surrounding
    intervals."""
    from kmeans_mapreduce_spark.sources.loaders import merge_scd2

    target = str(tmp_path / "dim")
    schema = "k LONG, ver LONG, city STRING"

    def snap():
        rows = spark.read.parquet(target).collect()
        return sorted(
            (r["k"], r["valid_from"], r["valid_to"], r["is_current"], r["city"])
            for r in rows
        )

    b1 = spark.createDataFrame([(1, 10, "nyc"), (2, 10, "sf")], schema)
    merge_scd2(spark, target, b1, key="k", version_col="ver")
    assert snap() == [
        (1, 10, None, True, "nyc"),
        (2, 10, None, True, "sf"),
    ]

    # change for k=1 opens v30 and closes v10; k=2 unchanged re-send
    # at a later version is suppressed entirely
    b2 = spark.createDataFrame([(1, 30, "tokyo"), (2, 30, "sf")], schema)
    merge_scd2(spark, target, b2, key="k", version_col="ver")
    assert snap() == [
        (1, 10, 30, False, "nyc"),
        (1, 30, None, True, "tokyo"),
        (2, 10, None, True, "sf"),
    ]

    # idempotent re-apply
    merge_scd2(spark, target, b2, key="k", version_col="ver")
    assert snap() == [
        (1, 10, 30, False, "nyc"),
        (1, 30, None, True, "tokyo"),
        (2, 10, None, True, "sf"),
    ]

    # late backfill: k=1 was "paris" from v20 — inserts mid-timeline,
    # nyc now closes at 20, paris spans [20, 30)
    b3 = spark.createDataFrame([(1, 20, "paris")], schema)
    merge_scd2(spark, target, b3, key="k", version_col="ver")
    assert snap() == [
        (1, 10, 20, False, "nyc"),
        (1, 20, 30, False, "paris"),
        (1, 30, None, True, "tokyo"),
        (2, 10, None, True, "sf"),
    ]


def test_merge_scd2_null_version_rows_collapse_to_one(spark, tmp_path):
    """Review regression: NULL-versioned rows for one key must dedupe
    to a single survivor (the old (key, valid_from) partitioning
    collapsed the NULL group; the shared-sort rewrite must too) — and
    never produce two is_current rows for one key."""
    from kmeans_mapreduce_spark.sources.loaders import merge_scd2

    target = str(tmp_path / "dim")
    b1 = spark.createDataFrame(
        [(1, None, "nyc"), (1, None, "sf"), (1, 20, "tokyo")],
        "k LONG, ver LONG, city STRING",
    )
    merge_scd2(spark, target, b1, key="k", version_col="ver")
    rows = sorted(
        (
            (r["valid_from"], r["is_current"], r["city"])
            for r in spark.read.parquet(target).collect()
        ),
        key=lambda t: (t[0] is not None, t[0] or 0),
    )
    # one NULL-version survivor (attrs desc → 'sf'), one current row
    assert rows == [(None, False, "sf"), (20, True, "tokyo")]
    assert sum(1 for _, cur, _ in rows if cur) == 1


def test_merge_scd2_rejects_mismatched_attribute_schema(spark, tmp_path):
    """An update batch missing (or adding) an attribute column the
    history has must FAIL, not silently rewrite all history projected
    to the batch's columns — that would be column-level data loss."""
    import pytest

    from kmeans_mapreduce_spark.sources.loaders import merge_scd2

    target = str(tmp_path / "dim")
    b1 = spark.createDataFrame(
        [(1, 10, "nyc", "us")], "k LONG, ver LONG, city STRING, country STRING"
    )
    merge_scd2(spark, target, b1, key="k", version_col="ver")

    # batch drops the country column → refused, history intact
    b2 = spark.createDataFrame([(1, 20, "sf")], "k LONG, ver LONG, city STRING")
    with pytest.raises(ValueError, match="do not match history"):
        merge_scd2(spark, target, b2, key="k", version_col="ver")
    cols = set(spark.read.parquet(target).columns)
    assert "country" in cols

    # batch adds a column history lacks → refused too (explicit
    # migration, not an implicit schema change)
    b3 = spark.createDataFrame(
        [(1, 20, "sf", "us", "ca")],
        "k LONG, ver LONG, city STRING, country STRING, state STRING",
    )
    with pytest.raises(ValueError, match="do not match history"):
        merge_scd2(spark, target, b3, key="k", version_col="ver")


def test_read_points_csv_quarantine_splits_good_and_bad(spark, tmp_path):
    """Malformed x,y lines land verbatim in the quarantine; partially
    parseable lines (one NULL coordinate) quarantine too; good rows
    parse with the point schema — one scan, nothing dropped."""
    from kmeans_mapreduce_spark.sources.loaders import (
        read_points_csv_quarantine,
    )

    p = tmp_path / "pts.csv"
    # not,a,point: token-count corrupt; 3.0,oops: unparseable field
    # (also corrupt-marked); "6.0,": right token count, empty y → the
    # null-field path with NO corrupt record
    p.write_text("1.5,2.5\nnot,a,point\n3.0,oops\n6.0,\n4.0,5.0\n")
    good, bad = read_points_csv_quarantine(spark, str(p))
    assert sorted((r["x"], r["y"]) for r in good.collect()) == [
        (1.5, 2.5),
        (4.0, 5.0),
    ]
    bad_rows = sorted(r["raw"] for r in bad.collect())
    assert len(bad_rows) == 3
    assert "not,a,point" in bad_rows          # verbatim corrupt line
    assert "3.0,oops" in bad_rows             # verbatim corrupt field
    # the empty-field line is reconstructed with an explicit
    # placeholder so the bad field stays visible ("6.0," not "6.0")
    assert "6.0," in bad_rows


def test_versioned_table_commit_time_travel_and_append(spark, tmp_path):
    """commit_version/read_version: overwrite replaces the snapshot,
    append extends it with zero data rewrite, every prior version
    stays readable (time travel), history lists the log, and a
    pre-occupied version number forces the optimistic-concurrency
    retry onto the next slot."""
    import json
    import os

    from kmeans_mapreduce_spark.sources.loaders import (
        commit_version,
        read_version,
        table_history,
    )

    t = str(tmp_path / "tbl")
    df = lambda rows: spark.createDataFrame(rows, "k LONG, v STRING")

    v0 = commit_version(spark, t, df([(1, "a"), (2, "b")]))
    v1 = commit_version(spark, t, df([(1, "a2")]))               # overwrite
    v2 = commit_version(spark, t, df([(3, "c")]), mode="append") # extend v1
    assert (v0, v1, v2) == (0, 1, 2)

    snap = lambda v=None: sorted(
        (r["k"], r["v"]) for r in read_version(spark, t, v).collect()
    )
    assert snap(0) == [(1, "a"), (2, "b")]
    assert snap(1) == [(1, "a2")]
    assert snap(2) == [(1, "a2"), (3, "c")]
    assert snap() == snap(2)  # latest
    assert table_history(t) == [
        {"version": 0, "mode": "overwrite", "n_dirs": 1},
        {"version": 1, "mode": "overwrite", "n_dirs": 1},
        {"version": 2, "mode": "append", "n_dirs": 2},
    ]

    # simulate a racing writer owning version 3: the next commit must
    # NOT clobber it (atomic create-exclusive) and lands on 4
    foreign = {"version": 3, "mode": "overwrite", "dirs": []}
    with open(os.path.join(t, "_log", "3.json"), "w") as f:
        json.dump(foreign, f)
    v4 = commit_version(spark, t, df([(9, "z")]))
    assert v4 == 4
    with open(os.path.join(t, "_log", "3.json")) as f:
        assert json.load(f) == foreign  # loser never replaced the winner
    assert snap(4) == [(9, "z")]


def test_read_version_delta_manifest_diff(spark, tmp_path):
    """read_version_delta reads EXACTLY the dirs a commit added vs its
    predecessor: an append's delta is the appended batch alone, an
    overwrite's delta is the full new snapshot (shares no dirs),
    version 0's delta is the whole table, an empty append yields an
    empty frame with the pinned schema, and the delta of a 3-commit
    append chain at N=2 excludes BOTH earlier batches."""
    from kmeans_mapreduce_spark.sources.loaders import (
        commit_version,
        read_version_delta,
    )

    t = str(tmp_path / "tbl")
    df = lambda rows: spark.createDataFrame(rows, "k LONG, v STRING")
    commit_version(spark, t, df([(1, "a"), (2, "b")]))                # v0
    commit_version(spark, t, df([(3, "c")]), mode="append")           # v1
    commit_version(spark, t, df([(4, "d"), (5, "e")]), mode="append") # v2
    commit_version(spark, t, df([(9, "z")]))                          # v3 overwrite

    delta = lambda v: sorted(
        (r["k"], r["v"]) for r in read_version_delta(spark, t, v).collect()
    )
    assert delta(0) == [(1, "a"), (2, "b")]  # increment IS the table
    assert delta(1) == [(3, "c")]
    assert delta(2) == [(4, "d"), (5, "e")]  # v0+v1 batches excluded
    assert delta(3) == [(9, "z")]            # overwrite: all-new dirs
    # latest by default
    assert delta(None) == [(9, "z")]

    # empty append: delta is an empty frame with the recorded schema
    commit_version(spark, t, df([]), mode="append")  # v4
    d4 = read_version_delta(spark, t, 4)
    assert d4.columns == ["k", "v"] and d4.count() == 0

    with pytest.raises(FileNotFoundError):
        read_version_delta(spark, str(tmp_path / "nope"))


def test_vacuum_versions_keeps_retained_reads(spark, tmp_path):
    """Vacuum removes only dirs unreferenced by the retained manifests
    (plus orphans); retained versions read identically after."""
    import os

    from kmeans_mapreduce_spark.sources.loaders import (
        commit_version,
        read_version,
        table_history,
        vacuum_versions,
    )

    t = str(tmp_path / "tbl")
    df = lambda rows: spark.createDataFrame(rows, "k LONG, v STRING")
    commit_version(spark, t, df([(1, "a")]))                      # v0
    commit_version(spark, t, df([(2, "b")]))                      # v1
    commit_version(spark, t, df([(3, "c")]), mode="append")       # v2 = v1+new
    os.makedirs(os.path.join(t, "data", "orphan-crash-residue"))

    before = sorted(
        (r["k"], r["v"]) for r in read_version(spark, t, 2).collect()
    )
    # default grace period: a YOUNG unreferenced dir could be an
    # in-flight commit's data — nothing swept, manifests still pruned
    cautious = vacuum_versions(t, keep_last=2)
    assert cautious["removed_dirs"] == 0
    stats = vacuum_versions(t, keep_last=2, orphan_min_age_sec=0)
    # v0's dir is unreferenced by v1/v2 → removed, plus the orphan
    assert stats["removed_dirs"] == 2
    after = sorted(
        (r["k"], r["v"]) for r in read_version(spark, t, 2).collect()
    )
    assert after == before
    assert sorted(
        (r["k"], r["v"]) for r in read_version(spark, t, 1).collect()
    ) == [(2, "b")]
    assert [h["version"] for h in table_history(t)] == [1, 2]


# ---- versioned-log multiprocess writer storm (r8 verdict task 6) ----
# Module-level workers so multiprocessing can target them regardless of
# start method. The storm drives publish_version — the log's ENTIRE
# serialization surface — from N OS processes while a vacuum and a
# torn-read detector run concurrently.


def _storm_writer(args):
    table, wid, m = args
    import os

    from kmeans_mapreduce_spark.sources.loaders import publish_version

    got = []
    for j in range(m):
        name = f"w{wid}_{j}"
        d = os.path.join(table, "data", name)
        os.makedirs(d)
        with open(os.path.join(d, "part-00000"), "wb") as f:
            f.write(b"x")
        mode = "append" if (wid + j) % 2 else "overwrite"
        got.append(
            publish_version(table, os.path.join("data", name), mode=mode)
        )
    return wid, got


def _storm_vacuum(table, stop_path):
    from kmeans_mapreduce_spark.sources.loaders import vacuum_versions

    import os
    import time

    while not os.path.exists(stop_path):
        # default grace period: never sweeps an in-flight commit's dir
        vacuum_versions(table, keep_last=20)
        time.sleep(0.01)


def _storm_reader(table, stop_path, err_path):
    """Poll the latest manifest; a FileNotFoundError is a benign race
    (vacuum or not-yet-first-commit) but a torn manifest — JSON decode
    failure, version/filename mismatch, empty dirs, or a referenced
    dir missing from disk for the LATEST version — is a protocol
    violation and gets recorded."""
    import json
    import os
    import time

    from kmeans_mapreduce_spark.sources.loaders import _latest_version

    errors = []
    while not os.path.exists(stop_path):
        v = _latest_version(table)
        if v is None:
            continue
        try:
            with open(os.path.join(table, "_log", f"{v}.json")) as f:
                m = json.load(f)
        except FileNotFoundError:
            continue  # lost a race with vacuum pruning — allowed
        except Exception as e:  # torn manifest = the forbidden state
            errors.append(f"v{v}: {e!r}")
            continue
        if m.get("version") != v or not m.get("dirs"):
            errors.append(f"v{v}: bad manifest {m}")
        time.sleep(0.002)
    with open(err_path, "w") as f:
        f.write("\n".join(errors))


def test_versioned_log_multiprocess_writer_storm(tmp_path):
    """8 writer processes x 10 commits each, with a concurrent vacuum
    and a torn-read detector: every version number is won by EXACTLY
    one writer (contiguous 0..79, no duplicate grants), the reader
    never observes a torn or inconsistent manifest, and the final
    table is readable. This is the cross-process proof of the
    single-process optimistic-concurrency unit tests."""
    import json
    import multiprocessing as mp

    table = str(tmp_path / "storm_table")
    os.makedirs(os.path.join(table, "_log"))
    stop = str(tmp_path / "stop")
    errs = str(tmp_path / "reader_errors")
    n_writers, m_commits = 8, 10

    ctx = mp.get_context("fork")
    vac = ctx.Process(target=_storm_vacuum, args=(table, stop))
    rdr = ctx.Process(target=_storm_reader, args=(table, stop, errs))
    vac.start()
    rdr.start()
    try:
        with ctx.Pool(n_writers) as pool:
            results = pool.map(
                _storm_writer,
                [(table, w, m_commits) for w in range(n_writers)],
            )
    finally:
        open(stop, "w").close()
        vac.join(timeout=30)
        rdr.join(timeout=30)

    won = [v for _, versions in results for v in versions]
    assert sorted(won) == list(range(n_writers * m_commits)), (
        "duplicate or missing version grants"
    )
    with open(errs) as f:
        torn = f.read().strip()
    assert not torn, f"reader observed torn manifests:\n{torn}"
    # final state: latest manifest resolves and every dir it names is
    # on disk (vacuum never touched a retained version's data)
    from kmeans_mapreduce_spark.sources.loaders import (
        _latest_version,
        _read_manifest,
    )

    latest = _latest_version(table)
    assert latest == n_writers * m_commits - 1
    m = _read_manifest(table, latest)
    for rel in m["dirs"]:
        assert os.path.isdir(os.path.join(table, rel)), rel


def test_versioned_log_schema_enforcement(spark, tmp_path):
    """Round 9: manifests record the snapshot schema; a drifted APPEND
    is refused naming both field sets (before this, the union read
    silently took one file's schema and null-filled the other's rows);
    OVERWRITE may change schema freely and time travel reads each
    version with its own recorded schema; legacy schema-less manifests
    still read."""
    import json

    from kmeans_mapreduce_spark.sources.loaders import (
        commit_version,
        read_version,
    )

    t = str(tmp_path / "tbl")

    def df(rows, schema):
        return spark.createDataFrame(rows, schema)

    v0 = commit_version(spark, t, df([(1, "a")], "k INT, v STRING"))
    # drifted append: refused, both field lists named
    with pytest.raises(ValueError, match=r"\['k', 'v'\].*\['k', 'other'\]"):
        commit_version(
            spark, t, df([(2, 3.5)], "k INT, other DOUBLE"), mode="append"
        )
    # same-schema append: fine
    v1 = commit_version(spark, t, df([(2, "b")], "k INT, v STRING"), mode="append")
    assert sorted(
        (r["k"], r["v"]) for r in read_version(spark, t, v1).collect()
    ) == [(1, "a"), (2, "b")]
    # overwrite with a NEW schema: allowed; latest reads new, old reads old
    v2 = commit_version(spark, t, df([(9, 1.5)], "k INT, other DOUBLE"))
    assert read_version(spark, t, v2).columns == ["k", "other"]
    assert read_version(spark, t, v1).columns == ["k", "v"]
    # legacy manifest without a schema still reads (files infer)
    m_path = f"{t}/_log/{v2}.json"
    with open(m_path) as f:
        m = json.load(f)
    m.pop("schema")
    legacy = str(tmp_path / "legacy")
    import shutil

    shutil.copytree(t, legacy)
    with open(f"{legacy}/_log/{v2}.json", "w") as f:
        json.dump(m, f)
    assert sorted(read_version(spark, legacy, v2).columns) == ["k", "other"]


def test_versioned_log_schemaless_append_onto_tracking_table_refused(
    spark, tmp_path
):
    """r9 ADVICE: a schema-less publish_version append onto a
    schema-TRACKING table used to carry the recorded schema forward
    without validating the appended files — reintroducing the torn
    read the guard exists to prevent. Now refused. Schema-less appends
    onto tables that never recorded a schema (the multiprocess stress
    harness shape) stay legal."""
    import os

    from kmeans_mapreduce_spark.sources.loaders import (
        commit_version,
        publish_version,
    )

    t = str(tmp_path / "tbl")
    commit_version(spark, t, spark.createDataFrame([(1, "a")], "k INT, v STRING"))
    d = os.path.join(t, "data", "rogue")
    os.makedirs(d)
    with open(os.path.join(d, "part-00000"), "wb") as f:
        f.write(b"x")
    with pytest.raises(ValueError, match="schema-less append"):
        publish_version(t, os.path.join("data", "rogue"), mode="append")
    # a never-schema'd table (all commits schema-less) still appends
    t2 = str(tmp_path / "raw")
    for i, mode in enumerate(["overwrite", "append", "append"]):
        d2 = os.path.join(t2, "data", f"w{i}")
        os.makedirs(d2)
        with open(os.path.join(d2, "part-00000"), "wb") as f:
            f.write(b"x")
        assert publish_version(t2, os.path.join("data", f"w{i}"), mode=mode) == i


def test_versioned_log_schema_evolution_additive(spark, tmp_path):
    """evolve=True allows the one legal append drift — appending new
    columns: the widened schema is recorded, the pinned read
    null-fills pre-evolution rows for exactly the added tail, and
    non-additive changes (retype, drop, reorder) stay refused even
    with evolve=True."""
    from kmeans_mapreduce_spark.sources.loaders import (
        commit_version,
        read_version,
    )

    t = str(tmp_path / "tbl")

    def df(rows, schema):
        return spark.createDataFrame(rows, schema)

    commit_version(spark, t, df([(1, "a")], "k INT, v STRING"))
    # additive evolution: new nullable column appended
    v1 = commit_version(
        spark, t, df([(2, "b", 9.5)], "k INT, v STRING, score DOUBLE"),
        mode="append", evolve=True,
    )
    got = sorted(
        (r["k"], r["v"], r["score"])
        for r in read_version(spark, t, v1).collect()
    )
    assert got == [(1, "a", None), (2, "b", 9.5)]
    # without evolve the same append is refused with the hint
    with pytest.raises(ValueError, match="evolve=True"):
        commit_version(
            spark, t, df([(3, "c", 1.0, 7)],
                         "k INT, v STRING, score DOUBLE, extra INT"),
            mode="append",
        )
    # non-additive even with evolve: retype refused
    with pytest.raises(ValueError, match="not purely additive"):
        commit_version(
            spark, t, df([(3, "c", 1)], "k INT, v STRING, score INT"),
            mode="append", evolve=True,
        )
    # reorder refused (prefix rule)
    with pytest.raises(ValueError, match="not purely additive"):
        commit_version(
            spark, t, df([("c", 3, 1.0)], "v STRING, k INT, score DOUBLE"),
            mode="append", evolve=True,
        )


def test_vacuum_survives_prior_smaller_retention(spark, tmp_path):
    """r13 review finding: a second vacuum whose keep_last reaches back
    past manifests a PREVIOUS vacuum already deleted must tolerate the
    gap (like table_history does), not abort with FileNotFoundError —
    otherwise one aggressive vacuum bricks garbage collection for the
    table forever. And read_version_delta of a retained version whose
    predecessor manifest was vacuumed must refuse LOUDLY (the
    increment is underivable) while read_version still serves it."""
    from kmeans_mapreduce_spark.sources.loaders import (
        commit_version,
        read_version,
        read_version_delta,
        vacuum_versions,
    )

    t = str(tmp_path / "tbl")
    df = lambda rows: spark.createDataFrame(rows, "k LONG, v STRING")
    for i in range(5):                                   # v0..v4
        commit_version(spark, t, df([(i, f"v{i}")]))
    vacuum_versions(t, keep_last=2, orphan_min_age_sec=0)  # drops m0..m2
    commit_version(spark, t, df([(9, "v5")]))              # v5
    # keep_last=5 reaches back to v1 whose manifest is gone: must not
    # crash, and must still collect v3's now-unreferenced dir later on
    stats = vacuum_versions(t, keep_last=5, orphan_min_age_sec=0)
    assert stats["removed_manifests"] >= 0  # completed without raising
    # retained versions still read
    assert [r["k"] for r in read_version(spark, t, 5).collect()] == [9]
    # delta of the oldest retained version (predecessor vacuumed):
    # loud ValueError, not FileNotFoundError
    import pytest as _pt

    with _pt.raises(ValueError, match="vacuumed"):
        read_version_delta(spark, t, 3)  # m2 was vacuumed
    # delta of a version whose predecessor survives still works
    assert [r["k"] for r in read_version_delta(spark, t, 5).collect()] == [9]


def test_points_csv_quarantine_releases_cache(spark, tmp_path):
    """r13 review finding: the CSV quarantine must unpersist its parse
    cache before returning (the JSONL twin's discipline) — per-path
    sweeps must not pin one copy of every dirty input forever."""
    from kmeans_mapreduce_spark.sources.loaders import (
        read_points_csv_quarantine,
    )

    p = str(tmp_path / "pts.csv")
    with open(p, "w") as f:
        f.write("1.0,2.0\nbad,line,here\n3.0,\n4.0,5.0\n")
    good, bad = read_points_csv_quarantine(spark, p)
    assert good.count() == 2
    assert sorted(r["raw"] for r in bad.collect()) == [
        "3.0,", "bad,line,here",
    ]
    # the returned frames are checkpointed copies; the cached PARSE
    # (whose storage entry carries its 'Scan csv' plan string) must be
    # unpersisted — only bare checkpoint RDDs may remain
    names = [
        r.name()
        for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    ]
    assert not any("csv" in (n or "") for n in names), names
