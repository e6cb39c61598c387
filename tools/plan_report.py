"""Generate PLANS.md — physical-plan evidence for the flagship queries.

For each listed query: run it at the given sf dir (default sf0.001 so
the report is cheap), extract the scale-contract properties the tests
assert (join strategies, exchange count, pushdown/pruning, read
schema), and dump the formatted plan. The artifact lets a reviewer
check the "would this survive 100 TB" claims without running Spark.

Usage: python tools/plan_report.py [sf_dir] > /dev/null && cat PLANS.md
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPORT_QUERIES = [
    ("kmeans_assign", "narrow literal argmin: no join, no exchange"),
    ("kmeans_recompute", "partial+final HashAggregate (map-side combine)"),
    ("dedup_minhash_pairs", "exchange-free band build; bucket equi self-join"),
    ("similarity_ann_ivf", "broadcast probes; cell equi-join on the index"),
    ("corpus_decontaminate", "broadcast LEFT SEMI vs the benchmark set"),
    ("text_tfidf", "one scan feeding tf+df; broadcast corpus count"),
    ("join_revenue_by_nation", "broadcast dimension joins"),
    ("events_window_agg", "single shuffle keyed by (window, type)"),
    ("events_hll_distinct", "sketch: constant-size exchange after combine"),
    ("pipeline_series_similarity", "profile build + broadcast query top-k"),
    ("events_funnel", "one user-keyed exchange reused by window + aggregate (second exchange is the trivial SinglePartition final sum)"),
    ("dedup_span_fraction", "inverted index: df count + same-key join, no self-join"),
    ("similarity_ann_pq", "code-only candidate payload; broadcast probe join"),
    ("corpus_split", "component map broadcast to a shuffle-free corpus scan"),
    ("lineitem_bloom_prune", "bloom literal-bitmap scan filter below a broadcast semi-join"),
    ("dedup_fuzzy_prefix", "Pass-Join: segment equi-join + inline thresholded verify, no cartesian"),
    ("text_chunks", "lateral UDTF fan-out over a pruned (doc_id, text) scan"),
    ("similarity_hard_negatives", "broadcast probes; label filter inside the join condition"),
    ("quality_report_orders", "one conditional-aggregate scan + groupBy uniqueness + broadcast-anti FK"),
    ("text_surprisal", "one materialized token explode feeds vocab + scoring; broadcast total"),
    ("text_tokens_bpe", "BPE-ish regexp_count: narrow map, (doc_id,text) pruned scan"),
    ("corpus_shuffle", "epoch shuffle key: narrow map, doc_id-only scan"),
    ("multimodal_resize", "decode+resample inside one mapInPandas, image filter pushed to scan"),
    ("events_stream_replay", "streaming window agg replay (plan shown post-materialization)"),
    ("dedup_incremental", "new-batch bands broadcast onto the historical band index (index side never shuffled, star-guard aggregate bounds hot buckets); verify pruned to colliding docs"),
    # dedup_cross_snapshot's registered query returns an eager
    # localCheckpoint (so its scratch versioned table can be removed
    # before collection), which reduces the visible plan to an RDD
    # scan — report the underlying operator on the same mod-5 sides
    # instead (identical plan, pre-checkpoint)
    ("dedup_cross_snapshot!operator", "manifest-diff increment (delta dirs only) banded and broadcast onto the prior snapshot's band index — same _cross_band_pairs plan as dedup_incremental with the sides as separate version reads"),
    ("similarity_rebuild_crossover", "one Arrow argmin assignment + (cell,bkt) aggregate; fraction table and totals broadcast — corpus scanned once, never re-exchanged per fraction"),
    ("dedup_semantic", "Arrow argmin cell assignment (no join) + tiled per-cell GEMM"),
    ("similarity_knn_graph", "cell-blocked local top-k emission + one src-keyed window merge"),
    ("corpus_dsir_weights", "one token explode; all bucket-table joins broadcast; corpus never shuffled"),
    ("corpus_rule_filter", "row-local rule verdicts: zero exchanges"),
    ("text_bpe_merges", "alphabet²-bounded pair counts; TakeOrderedAndProject top-k"),
    ("dedup_span_clean", "linear span pipeline: explode → keep-first window → re-agg, no self-join"),
    ("corpus_token_shards", "two-level prefix sum: bucketed parallel windows + broadcast offsets"),
    ("corpus_source_cap", "one source-keyed window; hash rank computed in the scan projection"),
    ("pipeline_pagerank_loop2", "O(edges) rank join + map-side-combined sum per iteration over a checkpointed edge list"),
    ("pipeline_curation_funnel", "row-local verdicts + one fingerprint window + broadcast decontam semi-join"),
    ("embeddings_outliers", "Arrow argmin assignment; K-row stats broadcast back, corpus never exchanged"),
    ("text_vocab_coverage", "TakeOrdered truncation before ranking; broadcast 1-row total"),
    ("corpus_pack_fragments", "one per-stratum window + narrow interval explode, all-int64"),
    ("dedup_substring", "stride-1 window keep-first + token-level anti-join; covered explode ∝ duplicated occurrences, no self-join"),
    ("similarity_ann_ivf_trained", "trained-quantizer IVF: same broadcast-probe/cell-join plan as the fixed-row index"),
    ("dedup_simhash_pairs", "4×15-bit pigeonhole band self-join + JVM popcount verify (60-bit sketch)"),
    ("similarity_ann_pq_trained", "trained per-subspace codebooks; same code-only candidate payload + broadcast probe join"),
    # embeddings_pca_suffstats intentionally absent: the query runs the
    # distributed pass at CONSTRUCTION time and returns driver-built
    # rows, so its "plan" is a vacuous LocalTableScan — the no-shuffle
    # claim is pinned by tests/test_plans + the operator docstring, not
    # by this artifact
    ("text_bm25", "zero corpus shuffles: literal-term tf projection, broadcast 1-row stats, TakeOrderedAndProject top-k"),
    ("embeddings_int8_quant", "narrow per-row quantization: no join, no exchange"),
    ("similarity_int8_topk", "broadcast quantized probes; integer dot in the join projection"),
    ("text_surprisal_bigram", "one bigram explode materialized once; count + scoring joins broadcast"),
    ("pipeline_pretrain_corpus", "filter→dedup→decontam→shard composition keeps component scale shapes"),
    ("corpus_lr_calibration", "broadcast 1-row weight table (O16 shape; was a 1024-literal array — ~2.4s plan time); ≤11-group decile aggregate"),
    ("similarity_ann_filtered", "label predicate prunes the index relation BEFORE the broadcast probe join"),
    ("text_normalize", "Arrow-batched narrow map; (doc_id, text) pruned scan, no shuffle"),
    ("corpus_lr_scores", "broadcast weight table + int64 logit fold; TakeOrderedAndProject top-N"),
    ("similarity_ann_pq_residual", "residual-encoded codes; same broadcast-probe/code-payload plan as flat PQ"),
    ("similarity_binary_topk", "1-bit sign words; popcount-XOR scoring inside a broadcast query join"),
    ("similarity_ann_pq_full_trained", "trained coarse + trained codebooks; plan shape unchanged from fixed variants"),
    ("events_gapfill", "dense axis from a 1-row bounds explode; LOCF window over O(types×buckets) rows; rollup materialized once"),
    ("dim_scd2_timeline", "one key-partitioned sort shared by the dedupe/suppress/re-link window passes; no joins"),
    ("multimodal_frames", "real AVI chunk-parse 1→N fan-out inside one mapInPandas; video filter pushed to scan"),
    ("events_m4", "one (type,bucket)-keyed exchange shared by window sort and aggregate"),
    ("events_exact_quantiles", "one type-keyed exchange shared by rank window and aggregate"),
    ("events_rolling_active", "sequence explode ABOVE the distinct (day,user) aggregate — bounded W× inflation, no W rescans"),
    ("events_trend", "DECIMAL(38,0) suffstats; unordered MIN window + aggregate share one exchange"),
    ("similarity_ann_ivf_incremental", "history+delta index union probed with the same broadcast-probe plan as a single build"),
    ("similarity_graph_triangles", "degree-oriented wedge join over O(N·k) edges; hub skew bounded by orientation"),
    ("similarity_hybrid_rrf", "two top-k retriever outputs full-outer joined — ≤2k fusion rows"),
    ("pipeline_events_dashboard", "four O(|types|) aggregates broadcast-joined; zero added corpus shuffles"),
    ("points_radius_join", "grid-cell broadcast equi-join with d2 residual — no BNLJ/cartesian"),
    ("text_heaps_law", "one explode + per-term MIN answers the whole prefix ladder"),
    ("similarity_cell_balance", "Arrow argmin assignment + K-group aggregate + 1-row broadcast total"),
    ("join_small_quantity", "decorrelated per-part aggregate joined back on the same key"),
    ("join_idle_customers", "1-row broadcast threshold + anti-join on the filtered fact"),
    # kmeans_nd_fit_large intentionally absent for the same reason as
    # embeddings_pca_suffstats: fit_nd iterates at construction time
    # and returns driver-built rows (vacuous LocalTableScan). Its
    # per-iteration physical shape — centers in the mapInPandas
    # closure, O(partitions×K) partial rows, O(1) plan size in K·d —
    # is pinned by the cell_assign scale-probe entries and the fit_nd
    # tests instead.
    ("multimodal_mjpeg", "MJPEG encode→decode roundtrip inside one mapInPandas; (doc_id, text) pruned scan"),
    ("corpus_url_dedup", "canonicalize = zero-shuffle codegen projection; variant-bounded canon_url rank window; host count = partial-agg groupBy joined back (null-safe) — a hot host combines map-side, never a host window"),
    ("corpus_line_dedup", "one materialized posexplode feeds df-count and mark join; boiler set broadcast; distinct-(doc,line) shuffle carries pairs, never occurrences; one doc-keyed reassembly"),
    ("join_min_cost_supplier", "Q2 decorrelated: one map-side-combined (part,supplier) aggregate, per-part struct argmin, broadcast dims, TakeOrderedAndProject top-N"),
    ("events_anomaly_mad", "one map-side-combined (type,hour) rollup materialized once (feeds median rank + deviation join; dev likewise checkpointed) — corpus scanned exactly once; median/MAD windows sort O(types×hours) aggregate rows; per-type stats broadcast back"),
    ("pipeline_crawl_frontdoor", "window-free funnel (r13): one corpus-keyed exchange (canon_url partial agg with struct-MIN representative), host cap = LEAST(cap, n) over GROUP rows — a 50%-hot host measured at-or-below uniform wall (tools/scale_probe_r13.json)"),
    ("multimodal_phash", "decode + 32x32 resample + two int64 DCT matmuls inside one mapInPandas; (doc_id, text) pruned scan, no shuffle"),
    ("multimodal_phash_pairs", "pHash sketches banded 3x21-bit; pigeonhole equi self-join with popcount verify inside the join — never all-pairs"),
    ("join_waiting_suppliers", "Q21: status-pruned fact; EXISTS/NOT-EXISTS as LEFT SEMI + LEFT ANTI hash joins on orderkey (supplier inequality as residual); supplier+nation broadcast"),
    ("join_excess_stock", "Q20: one lineitem scan -> (part,supplier) aggregate; per-part total as a window over the AGGREGATE; exact-int dominance; part+supplier broadcast"),
]


def summarize(plan: str) -> list[str]:
    out = []
    joins = sorted(set(re.findall(r"\b(\w+Join\w*)\b", plan)))
    out.append(f"joins: {', '.join(joins) if joins else 'none'}")
    n_ex = len(re.findall(r"\(\d+\) Exchange\b", plan)) + len(
        re.findall(r"\bExchange hashpartitioning", plan)
    )
    out.append(f"exchanges: {n_ex}")
    if "CartesianProduct" in plan:
        out.append("!! CartesianProduct present")
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    pushed = [p for p in pushed if p.strip()]
    if pushed:
        out.append(f"pushed filters: {len(pushed)} scan(s)")
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    for s in schemas:
        cols = [c.split(":")[0] for c in s.split(",") if c]
        out.append(f"scan reads: {', '.join(cols)}")
    wsc = len(set(re.findall(r"codegen id : (\d+)", plan)))
    out.append(f"whole-stage codegen spans: {wsc}")
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    import __spark_entry__ as entrymod

    from kmeans_mapreduce_spark import plans
    from kmeans_mapreduce_spark.session import get_spark

    spark = get_spark("plan-report")
    qs = entrymod.queries()
    lines = [
        "# PLANS — physical-plan evidence (generated by tools/plan_report.py)",
        "",
        f"Source: `{sf_dir}`. Regenerate after plan-affecting changes:",
        "`python tools/plan_report.py`.",
        "",
    ]
    def _cross_snapshot_operator(spark, sf_dir):
        from pyspark.sql import functions as F

        from kmeans_mapreduce_spark.extensions import (
            JACCARD_LSH_THRESHOLD,
            load_table,
        )
        from kmeans_mapreduce_spark.operators import dedup as dd

        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        return dd.cross_snapshot_minhash_pairs(
            docs.filter(F.col("doc_id") % 5 == 0),
            docs.filter(F.col("doc_id") % 5 != 0),
            JACCARD_LSH_THRESHOLD,
        )

    overrides = {"dedup_cross_snapshot!operator": _cross_snapshot_operator}

    for name, claim in REPORT_QUERIES:
        df = overrides.get(name, qs.get(name))(spark, sf_dir)
        plan = plans.explain_str(df)
        lines += [f"## {name}", "", f"*Claim:* {claim}", ""]
        lines += [f"- {s}" for s in summarize(plan)]
        lines += ["", "<details><summary>formatted plan</summary>", "",
                  "```", plan.rstrip(), "```", "", "</details>", ""]
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
