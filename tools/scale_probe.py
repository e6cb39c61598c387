"""Scale probe — empirical check that the engine's plans scale the way
the design claims (SURVEY §8 / README "Scale design").

Replicates the sf0.1 point set in-memory (union of jittered copies, so
cardinality grows but the distribution doesn't collapse) and measures
per-iteration Lloyd wall at 1×/4×/16×; then probes the n-D Arrow Lloyd
step at growing K×dim. A near-linear data slope and sub-linear K·dim slope
are the pass criteria — superlinear growth means a shuffle or driver
bottleneck crept in.

Usage: python tools/scale_probe.py [sf_dir]   (writes one JSON line)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The TWS sessionizer probe needs a protobuf runtime in EVERY Python
# process Spark spawns (the streaming runner is its own process), so
# the pbshim goes on PYTHONPATH BEFORE the JVM launches — same dance as
# tests/conftest.py. No-op where protobuf is properly installed.
_PBSHIM = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pbshim")
os.environ["PYTHONPATH"] = (
    _PBSHIM + os.pathsep + os.environ["PYTHONPATH"]
    if os.environ.get("PYTHONPATH")
    else _PBSHIM
)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    from pyspark.sql import functions as F

    from kmeans_mapreduce_spark.operators import kmeans as km
    from kmeans_mapreduce_spark.session import get_spark
    from kmeans_mapreduce_spark.sources.derive import points_2d
    from kmeans_mapreduce_spark.sources.loaders import load_table

    spark = get_spark("scale-probe")
    out: dict[str, object] = {"sf_dir": sf_dir}

    base = points_2d(spark, sf_dir)
    n0 = base.count()

    # --- data scaling: per-iteration Lloyd wall at 1x / 4x / 16x ------
    centers = km.init_random(8, (1.0, 110.0, 1.0, 50.0), 42)

    # Jitter the centers per lloyd_step_sql call so every plan carries
    # FRESH literals — measuring the loop's real per-iteration cost
    # including the codegen compile, not a compile-cache hit.
    def jitter(i):
        return [(c, x + 1e-9 * (i + 1), y) for c, x, y in centers]

    for factor in (1, 4, 16):
        df = base
        for i in range(factor - 1):
            df = df.union(
                base.select(
                    "point_id",
                    (F.col("x") + F.lit(0.001 * (i + 1))).alias("x"),
                    (F.col("y") + F.lit(0.001 * (i + 1))).alias("y"),
                )
            )
        # same partition normalization fit() applies before its loop
        df = km.normalize_partitions(df.select("x", "y")).cache()
        df.count()  # materialize
        centers_xy = [(c, (x, y)) for c, x, y in centers]
        km.lloyd_step_arrow(df, centers_xy)  # warm workers
        times = []
        for _ in range(3):
            t = time.time()
            km.lloyd_step_arrow(df, centers_xy)
            times.append(time.time() - t)
        out[f"lloyd_iter_sec_{factor}x"] = round(min(times), 3)
        out[f"rows_{factor}x"] = n0 * factor

        # fit()'s step, under the session's own confs as fit runs it.
        km.lloyd_step_sql(df, jitter(99))  # warm
        times = []
        for i in range(3):
            t = time.time()
            km.lloyd_step_sql(df, jitter(i))
            times.append(time.time() - t)
        out[f"lloyd_sql_iter_sec_{factor}x"] = round(min(times), 3)
        df.unpersist()

    out["lloyd_sql_16x_slope"] = round(
        out["lloyd_sql_iter_sec_16x"] / out["lloyd_sql_iter_sec_1x"] / 16.0, 3
    )
    s1 = out["lloyd_iter_sec_1x"]
    s16 = out["lloyd_iter_sec_16x"]
    out["lloyd_16x_slope"] = round(s16 / s1 / 16.0, 3)  # 1.0 = perfectly linear

    # --- dedup scaling: minhash->LSH->verify wall at 1x / 4x ----------
    # replicas get perturbed text (suffix token) so replicas of one doc
    # form small near-dup clusters: pair count grows linearly in docs,
    # and the probe measures the pipeline, not an output explosion.
    from kmeans_mapreduce_spark.operators import dedup as dd

    docs0 = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    nd0 = docs0.count()
    for factor in (1, 4):
        d = docs0
        for i in range(factor - 1):
            d = d.union(
                docs0.select(
                    (F.col("doc_id") + F.lit(1_000_000 * (i + 1))).alias(
                        "doc_id"
                    ),
                    F.concat(F.col("text"), F.lit(f" rep{i}")).alias("text"),
                )
            )
        d = d.cache()
        d.count()
        pairs = dd.candidate_pairs(
            dd.lsh_bands_from_array(dd.minhash_signature_array(d))
        )
        t = time.time()
        n_pairs = pairs.count()
        out[f"minhash_pairs_sec_{factor}x"] = round(time.time() - t, 3)
        out[f"minhash_docs_{factor}x"] = nd0 * factor
        out[f"minhash_pairs_{factor}x"] = n_pairs
        d.unpersist()
    out["minhash_4x_slope"] = round(
        out["minhash_pairs_sec_4x"] / out["minhash_pairs_sec_1x"] / 4.0, 3
    )

    # --- incremental dedup (nightly-crawl shape) at 1x / 4x history ---
    # Round 10: the one r9 "weak"-flagged bench entry gets its own
    # slope — shaped as the PRODUCTION question: a FIXED increment
    # (1000 " new"-suffixed variants of base docs 0..999, doc_ids
    # placed above the 4/5 split at both factors) deduped against a
    # HISTORY that grows 1x→4x (suffix-perturbed replicas of the base
    # corpus). Holding the increment fixed makes the two points
    # comparable: collisions grow exactly with the history replicas
    # (each new doc gains one near-dup variant per replica), so wall
    # growth decomposes into history-signature cost (∝ corpus, the
    # bounded-query shape; a persisted band index at 100 TB) plus
    # verification (∝ collisions). Slope normalizes by the 4x history
    # growth; output counts recorded so the collision term is visible.
    nd_base = nd0
    new_docs = docs0.filter(F.col("doc_id") < 1000).select(
        (F.col("doc_id") + F.lit(20 * nd_base)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" new")).alias("text"),
    )
    for factor in (1, 4):
        hist = docs0.select(
            "doc_id", F.concat(F.col("text"), F.lit(" rep0")).alias("text")
        )
        for i in range(1, factor):
            hist = hist.union(
                docs0.select(
                    (F.col("doc_id") + F.lit(i * nd_base)).alias("doc_id"),
                    F.concat(F.col("text"), F.lit(f" rep{i}")).alias("text"),
                )
            )
        # max doc_id = 20*nd_base + 999 → split ≈ 16*nd_base + 799:
        # every hist id (< 4*nd_base) is historical, every new id
        # (≥ 20*nd_base) is in the increment, at BOTH factors
        d = hist.union(new_docs).cache()
        d.count()
        inc = dd.incremental_minhash_pairs(d)
        t = time.time()
        n_inc = inc.count()
        out[f"incremental_sec_{factor}x"] = round(time.time() - t, 3)
        out[f"incremental_hist_docs_{factor}x"] = nd_base * factor
        out[f"incremental_pairs_{factor}x"] = n_inc
        d.unpersist()
    out["incremental_4x_slope"] = round(
        out["incremental_sec_4x"] / out["incremental_sec_1x"] / 4.0, 3
    )

    # --- K x dim scaling: the n-D Arrow Lloyd step --------------------
    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        F.col("vec_id").alias("point_id"),
        F.transform(F.col("embedding"), lambda v: v.cast("double")).alias("vec"),
    ).cache()
    pts.count()
    import numpy as np

    rng = np.random.default_rng(42)
    for k in (8, 64):
        centers_nd = [(i, rng.normal(size=64).tolist()) for i in range(k)]
        km.lloyd_step_arrow(pts, centers_nd)  # warm
        t = time.time()
        km.lloyd_step_arrow(pts, centers_nd)
        out[f"nd_iter_sec_k{k}"] = round(time.time() - t, 3)
    out["nd_k8_to_k64_ratio"] = round(
        out["nd_iter_sec_k64"] / max(out["nd_iter_sec_k8"], 1e-9), 2
    )
    pts.unpersist()

    # --- assign_cells at production K: plan time must stay O(1) -------
    # The Arrow assignment keeps the centers in the task closure, so its
    # plan is O(1) in K·d. Probe the analysis/planning wall (the thing
    # that blows up when K·d literals ride in the plan — measured 10× on
    # bloom bitmaps, ~2.4 s on LR weights) and the execution wall at
    # K=64 and K=1024.
    emb_ac = emb.select("vec_id", "embedding").cache()
    emb_ac.count()
    for k_cells in (64, 1024):
        centers_ac = [
            (i, rng.normal(size=64).tolist()) for i in range(k_cells)
        ]
        t = time.time()
        df_ac = dd.assign_cells(emb_ac, centers_ac, out="cell")
        df_ac._jdf.queryExecution().executedPlan()  # force analyze+plan
        out[f"cell_assign_k{k_cells}_plan_sec"] = round(time.time() - t, 3)
        df_ac.write.format("noop").mode("overwrite").save()  # warm
        t = time.time()
        df_ac.write.format("noop").mode("overwrite").save()
        out[f"cell_assign_k{k_cells}_sec"] = round(time.time() - t, 3)
    emb_ac.unpersist()

    # --- k-NN graph scaling: cell-blocked GEMM at 1x / 4x vectors -----
    # 4x vectors quadruple every cell, so the per-cell pair space grows
    # 16x; the tiled GEMM should keep wall growth well below that
    # (bounded tasks, more parallelism), near-linear in rows.
    from kmeans_mapreduce_spark.operators import similarity as sim

    emb0 = emb.select("vec_id", "label", "embedding")
    ne0 = emb0.count()
    cent_rows = (
        emb0.filter(F.col("vec_id").isin([0, 1, 2, 3]))
        .select("vec_id", "embedding")
        .collect()
    )
    centers_knn = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in cent_rows
    ]
    for factor in (1, 4):
        d = emb0
        for i in range(factor - 1):
            d = d.union(
                emb0.select(
                    (F.col("vec_id") + F.lit(1_000_000 * (i + 1))).alias(
                        "vec_id"
                    ),
                    "label",
                    F.transform(
                        F.col("embedding"),
                        lambda v: v + F.lit(0.001 * (i + 1)),
                    ).alias("embedding"),
                )
            )
        d = d.cache()
        d.count()
        g = sim.knn_graph(d, centers_knn, k=4)
        g.write.format("noop").mode("overwrite").save()  # warm
        t = time.time()
        g.write.format("noop").mode("overwrite").save()
        out[f"knn_graph_sec_{factor}x"] = round(time.time() - t, 3)
        out[f"knn_vecs_{factor}x"] = ne0 * factor
        d.unpersist()
    out["knn_4x_slope"] = round(
        out["knn_graph_sec_4x"] / out["knn_graph_sec_1x"] / 4.0, 3
    )

    # bounded-cell variant: 4x vectors AND 4x centers (K ∝ N keeps the
    # per-cell pair space constant per row) — the production dial; this
    # is the slope that must stay near-linear.
    d4 = emb0
    for i in range(3):
        d4 = d4.union(
            emb0.select(
                (F.col("vec_id") + F.lit(1_000_000 * (i + 1))).alias("vec_id"),
                "label",
                F.transform(
                    F.col("embedding"), lambda v: v + F.lit(0.001 * (i + 1))
                ).alias("embedding"),
            )
        )
    d4 = d4.cache()
    d4.count()
    cent16 = (
        emb0.filter(F.col("vec_id") < 16)
        .select("vec_id", "embedding")
        .collect()
    )
    centers16 = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in cent16
    ]
    g = sim.knn_graph(d4, centers16, k=4)
    g.write.format("noop").mode("overwrite").save()  # warm
    t = time.time()
    g.write.format("noop").mode("overwrite").save()
    out["knn_graph_sec_4x_k16"] = round(time.time() - t, 3)
    out["knn_4x_k16_slope"] = round(
        out["knn_graph_sec_4x_k16"] / out["knn_graph_sec_1x"] / 4.0, 3
    )
    d4.unpersist()

    # --- span dedup + shard plan scaling: 1x / 4x docs ----------------
    # span_dedup is claimed linear (explode → keep-first window →
    # re-agg); token_shard_plan is two parallel window passes + a
    # broadcast. Replicas get a suffix token so replica spans form
    # bounded dup groups instead of one global hot span.
    for factor in (1, 4):
        d = docs0
        for i in range(factor - 1):
            d = d.union(
                docs0.select(
                    (F.col("doc_id") + F.lit(1_000_000 * (i + 1))).alias(
                        "doc_id"
                    ),
                    F.concat(F.col("text"), F.lit(f" rep{i}")).alias("text"),
                )
            )
        d = d.cache()
        d.count()
        from kmeans_mapreduce_spark.operators import sampling as sp

        for probe, fn in (
            ("span_clean", lambda d=d: dd.span_dedup(d)),
            ("token_shards", lambda d=d: sp.token_shard_plan(d)),
        ):
            fn().write.format("noop").mode("overwrite").save()  # warm
            durs = []
            for _ in range(3):
                t = time.time()
                fn().write.format("noop").mode("overwrite").save()
                durs.append(time.time() - t)
            durs.sort()
            out[f"{probe}_sec_{factor}x"] = round(durs[1], 3)
        d.unpersist()
    for probe in ("span_clean", "token_shards"):
        out[f"{probe}_4x_slope"] = round(
            out[f"{probe}_sec_4x"] / out[f"{probe}_sec_1x"] / 4.0, 3
        )

    # --- pair-generator tail: 1x / 4x / 16x docs ----------------------
    # The three pair-generators without prior 16x evidence (simhash
    # band join, n-gram inverted index, Pass-Join fuzzy prefix) plus
    # the stride-1 substring pass. Replicas get a suffix token, so a
    # replica pairs with its original (near-dup populations grow
    # linearly) without collapsing into one global hot key. Pass bar:
    # slope_16x < 1.5 (slope 1.0 = perfectly linear).
    pair_probes = {
        "simhash_pairs": lambda d: dd.simhash_pairs(d),
        "ngram_jaccard": lambda d: dd.ngram_jaccard_pairs(d),
        "fuzzy_prefix": lambda d: dd.fuzzy_prefix_pairs(d),
        "substring_dedup": lambda d: dd.substring_dedup(d),
    }
    # full-column base: ngram_jaccard's posting builder reads lang and
    # n_chars, not just (doc_id, text)
    docsF = load_table(spark, sf_dir, "documents")
    for factor in (1, 4, 16):
        d = docsF
        for i in range(factor - 1):
            d = d.unionByName(
                docsF.select(
                    (F.col("doc_id") + F.lit(1_000_000 * (i + 1))).alias(
                        "doc_id"
                    ),
                    F.concat(F.col("text"), F.lit(f" rep{i}")).alias("text"),
                    *[
                        c
                        for c in docsF.columns
                        if c not in ("doc_id", "text")
                    ],
                )
            )
        d = d.cache()
        d.count()
        for probe, fn in pair_probes.items():
            fn(d).write.format("noop").mode("overwrite").save()  # warm
            # median of 3 timed runs — a single timing swung ≥2.5× run
            # to run on this box (page cache / JIT / GC state), which
            # made cross-round slope comparisons meaningless
            durs = []
            for _ in range(3):
                t = time.time()
                fn(d).write.format("noop").mode("overwrite").save()
                durs.append(time.time() - t)
            durs.sort()
            out[f"{probe}_sec_{factor}x"] = round(durs[1], 3)
        # output accounting for the substring pass (r10 verdict task 3):
        # the replica construction duplicates every base window into f
        # copies, so rank>1 occurrences grow ~(f−1)·W while input grows
        # only f× — dup/covered counts recorded per factor let a high
        # wall slope self-adjudicate as output-bound (exactly as the
        # triangles probe records output_growth) instead of being
        # indistinguishable from a plan regression.
        srow = dd.substring_dedup_stats(d).collect()[0]
        out[f"substring_dup_windows_{factor}x"] = int(srow["n_dup_windows"])
        out[f"substring_covered_positions_{factor}x"] = int(
            srow["n_covered_positions"]
        )
        out[f"pairgen_docs_{factor}x"] = nd0 * factor
        d.unpersist()
    for probe in pair_probes:
        out[f"{probe}_16x_slope"] = round(
            out[f"{probe}_sec_16x"] / out[f"{probe}_sec_1x"] / 16.0, 3
        )
    # slope normalized by dup-occurrence growth: wall_16x/wall_1x divided
    # by dup_16x/dup_1x — ≲ historical input-linear band ⇒ output-bound
    dup1 = max(out["substring_dup_windows_1x"], 1)
    out["substring_16x_dup_growth"] = round(
        out["substring_dup_windows_16x"] / dup1, 3
    )
    out["substring_16x_covered_growth"] = round(
        out["substring_covered_positions_16x"]
        / max(out["substring_covered_positions_1x"], 1),
        3,
    )
    out["substring_16x_slope_per_dup_growth"] = round(
        (out["substring_dedup_sec_16x"] / out["substring_dedup_sec_1x"])
        / max(out["substring_16x_dup_growth"], 1e-9),
        4,
    )

    # --- fused PQ training: 1x / 16x vectors --------------------------
    # Round 7 fused fit_pq_codebooks into one Arrow pass per Lloyd
    # iteration (was m sequential fit_nd loops); verify the training
    # wall stays ~linear in corpus size. Replicas shift vec_id only —
    # identical vectors don't change the suffstats shape, and the
    # codebook/center ids stay in the 1x range so the fit is valid.
    from kmeans_mapreduce_spark import extensions as ex
    from kmeans_mapreduce_spark.operators import similarity as sim

    embF = load_table(spark, sf_dir, "embeddings")
    ne0 = embF.count()
    for factor in (1, 16):
        d = embF
        for i in range(factor - 1):
            d = d.unionByName(
                embF.select(
                    (F.col("vec_id") + F.lit(1_000_000 * (i + 1))).alias(
                        "vec_id"
                    ),
                    *[c for c in embF.columns if c != "vec_id"],
                )
            )
        d = d.cache()
        d.count()
        sim.fit_pq_codebooks(d, ex.PQ_CODEBOOK_IDS, m=ex.PQ_M)  # warm
        durs = []
        for _ in range(3):
            t = time.time()
            sim.fit_pq_codebooks(d, ex.PQ_CODEBOOK_IDS, m=ex.PQ_M)
            durs.append(time.time() - t)
        durs.sort()
        out[f"pq_train_sec_{factor}x"] = round(durs[1], 3)
        out[f"pq_train_vecs_{factor}x"] = ne0 * factor
        d.unpersist()
    out["pq_train_16x_slope"] = round(
        out["pq_train_sec_16x"] / out["pq_train_sec_1x"] / 16.0, 3
    )

    # Round 7: triangle counting over the k-NN graph (compact-forward
    # with degree orientation) at 1x / 4x vectors with K ∝ N (the
    # bounded-cell production dial — same replicas as the knn probe);
    # the claim under test is that the orientation keeps the wedge
    # join linear-ish in edges, never quadratic in hub degree.
    for factor in (1, 4):
        d = emb0
        for i in range(factor - 1):
            d = d.union(
                emb0.select(
                    (F.col("vec_id") + F.lit(1_000_000 * (i + 1))).alias(
                        "vec_id"
                    ),
                    "label",
                    F.transform(
                        F.col("embedding"),
                        lambda v: v + F.lit(0.001 * (i + 1)),
                    ).alias("embedding"),
                )
            )
        d = d.cache()
        d.count()
        ctrs = centers_knn if factor == 1 else centers16
        tg = sim.triangle_counts(sim.knn_graph(d, ctrs, k=4))
        tg.write.format("noop").mode("overwrite").save()  # warm
        durs = []
        for _ in range(3):
            t = time.time()
            tg.write.format("noop").mode("overwrite").save()
            durs.append(time.time() - t)
        durs.sort()
        out[f"triangles_sec_{factor}x"] = round(durs[1], 3)
        # attribute the slope: jittered replicas collapse each node's
        # neighborhood onto its twins, so the TRIANGLE OUTPUT itself
        # grows superlinearly in the factor — record it so a >1 wall
        # slope reads as output-bound, not join blowup
        from pyspark.sql import functions as FF

        tot = tg.agg(FF.sum("n_triangles")).collect()[0][0]
        out[f"triangles_total_{factor}x"] = int(tot or 0)
        d.unpersist()
    out["triangles_4x_slope"] = round(
        out["triangles_sec_4x"] / out["triangles_sec_1x"] / 4.0, 3
    )
    out["triangles_4x_output_growth"] = round(
        out["triangles_total_4x"] / max(out["triangles_total_1x"], 1) / 4.0,
        3,
    )

    # Round 7: rolling distinct actives (contribution expansion) at
    # 1x / 16x events — replicas shift user_id so the distinct sets
    # genuinely grow; the claim is linearity in distinct (day, user).
    from kmeans_mapreduce_spark.operators import events as evops

    ev0 = load_table(spark, sf_dir, "events")
    nev0 = ev0.count()
    for factor in (1, 16):
        d = ev0
        for i in range(factor - 1):
            d = d.unionByName(
                ev0.select(
                    "event_id",
                    "ts",
                    (F.col("user_id") + F.lit(1_000_000 * (i + 1))).alias(
                        "user_id"
                    ),
                    *[
                        c
                        for c in ev0.columns
                        if c not in ("event_id", "ts", "user_id")
                    ],
                )
            )
        d = d.cache()
        d.count()
        ra = evops.rolling_active_users(d)
        ra.write.format("noop").mode("overwrite").save()  # warm
        durs = []
        for _ in range(3):
            t = time.time()
            ra.write.format("noop").mode("overwrite").save()
            durs.append(time.time() - t)
        durs.sort()
        out[f"rolling_active_sec_{factor}x"] = round(durs[1], 3)
        out[f"rolling_active_events_{factor}x"] = nev0 * factor
        d.unpersist()
    out["rolling_active_16x_slope"] = round(
        out["rolling_active_sec_16x"] / out["rolling_active_sec_1x"] / 16.0,
        3,
    )

    # Round 10 (r9 verdict task 6): TWS sessionizer vs the v1
    # applyInPandasWithState form at 1x/4x/16x events, now that TWS
    # executes. Both drain the SAME 3-file micro-batch replay (time-
    # ordered splits so the watermark advances); replicas shift
    # user_id so the state-store key count genuinely grows with the
    # factor. Metrics per impl: total drain wall, wall per micro-batch,
    # closed-session count + value_sum parity (tws == v1 asserted),
    # and the key count (the state-row bound — one open session per
    # key at most).
    import shutil
    import tempfile

    from kmeans_mapreduce_spark.streaming import stream_ops as so

    tws_ok = True
    try:
        import importlib.util as _ilu

        if _ilu.find_spec("google.protobuf") is None:
            raise ImportError("no protobuf runtime")
    except ImportError:
        try:
            import runpy

            runpy.run_path(
                os.path.join(
                    os.path.dirname(os.path.abspath(__file__)),
                    "pbshim",
                    "sitecustomize.py",
                ),
                run_name="pbshim",
            )
            import google.protobuf  # noqa: F401
        except Exception as exc:  # no runtime anywhere: record, skip
            tws_ok = False
            out["tws_probe_skipped"] = repr(exc)

    if tws_ok:
        prov = "spark.sql.streaming.stateStore.providerClass"
        prev_prov = spark.conf.get(prov, None)
        spark.conf.set(
            prov,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        # load_table already normalizes events.ts to epoch-ns BIGINT —
        # exactly the unit the sessionizers take
        ev_cols = ev0.select("user_id", "ts", "event_id", "value")
        tmp_dirs: list[str] = []
        try:
            for factor in (1, 4, 16):
                d = ev_cols
                for i in range(factor - 1):
                    d = d.unionByName(
                        ev_cols.select(
                            (
                                F.col("user_id") + F.lit(1_000_000 * (i + 1))
                            ).alias("user_id"),
                            "ts",
                            "event_id",
                            "value",
                        )
                    )
                pdf = d.toPandas().sort_values("ts").reset_index(drop=True)
                src = tempfile.mkdtemp(prefix=f"tws_probe_{factor}x_")
                tmp_dirs.append(src)
                n = len(pdf)
                for b in range(3):
                    pdf.iloc[b * n // 3 : (b + 1) * n // 3].to_parquet(
                        os.path.join(src, f"{b:02d}.parquet"), index=False
                    )
                out[f"sessionize_events_{factor}x"] = n
                out[f"sessionize_keys_{factor}x"] = int(
                    pdf["user_id"].nunique()
                )

                def drain(build, name):
                    stream = (
                        spark.readStream.schema(
                            "user_id LONG, ts LONG, event_id LONG, "
                            "value DOUBLE"
                        )
                        .option("maxFilesPerTrigger", 1)
                        .parquet(src)
                    )
                    t0 = time.time()
                    so.run_stream_to_memory(
                        build(stream, gap_sec=None, watermark_sec=600),
                        name,
                        "update",
                    )
                    wall = time.time() - t0
                    sess = {
                        (
                            r["user_id"],
                            r["session_start"],
                            r["session_end"],
                            r["n_events"],
                        ): round(r["value_sum"], 6)
                        for r in spark.table(name).collect()
                    }
                    return wall, sess

                w_v1, agg_v1 = drain(
                    so.stream_sessionize, f"probe_sess_v1_{factor}x"
                )
                w_tws, agg_tws = drain(
                    so.stream_sessionize_tws, f"probe_sess_tws_{factor}x"
                )
                assert agg_tws == agg_v1, (factor, agg_tws, agg_v1)
                out[f"sessionize_v1_sec_{factor}x"] = round(w_v1, 3)
                out[f"sessionize_tws_sec_{factor}x"] = round(w_tws, 3)
                out[f"sessionize_v1_per_batch_sec_{factor}x"] = round(
                    w_v1 / 3, 3
                )
                out[f"sessionize_tws_per_batch_sec_{factor}x"] = round(
                    w_tws / 3, 3
                )
                out[f"sessionize_closed_{factor}x"] = len(agg_v1)
        except Exception as exc:
            # This block runs LAST over many minutes of accumulated
            # metrics — a streaming failure or a parity-assert trip
            # must not discard the whole run's evidence. Record the
            # failure (a reviewer sees it) and still print `out`.
            out["tws_probe_failed"] = repr(exc)
        finally:
            for p in tmp_dirs:
                shutil.rmtree(p, ignore_errors=True)
            if prev_prov is not None:
                spark.conf.set(prov, prev_prov)
            else:
                spark.conf.unset(prov)
        if "sessionize_tws_sec_16x" in out:
            out["sessionize_v1_16x_slope"] = round(
                out["sessionize_v1_sec_16x"]
                / out["sessionize_v1_sec_1x"]
                / 16.0,
                3,
            )
            out["sessionize_tws_16x_slope"] = round(
                out["sessionize_tws_sec_16x"]
                / out["sessionize_tws_sec_1x"]
                / 16.0,
                3,
            )
            out["sessionize_tws_vs_v1_16x"] = round(
                out["sessionize_tws_sec_16x"] / out["sessionize_v1_sec_16x"],
                3,
            )

    # Round 12: the BPE trainer+segmenter and the URL canonicalizer at
    # 1x / 4x / 16x docs. BPE replicas shift doc_id only (text
    # unchanged), so the DISTINCT-WORD VOCAB is constant while the
    # corpus grows — the scan-once design means wall should grow far
    # slower than the corpus (the merge rounds run on the constant
    # vocab; only the vocab-build scan and the apply projection are
    # corpus-linear). URL replicas shift doc_id, which changes the
    # synthesized spellings/groups — both stages are corpus-linear by
    # design (narrow canonicalize projection + two keyed aggregates).
    from kmeans_mapreduce_spark import extensions as exx
    from kmeans_mapreduce_spark.operators import textops as txx

    d0 = load_table(spark, sf_dir, "documents")
    ndoc0 = d0.count()
    for factor in (1, 4, 16):
        d = d0
        for i in range(factor - 1):
            d = d.unionByName(
                d0.select(
                    (F.col("doc_id") + F.lit(1_000_000 * (i + 1))).alias(
                        "doc_id"
                    ),
                    *[c for c in d0.columns if c != "doc_id"],
                )
            )
        d = d.cache()
        d.count()

        def bpe_run(d=d):
            merges = txx.bpe_train_merges(d)
            txx.bpe_segment_stats(d, merges).write.format("noop").mode(
                "overwrite"
            ).save()

        def url_run(d=d):
            urls = d.select(
                "doc_id", F.expr(exx._url_synth_expr(True)).alias("url")
            )
            dd.url_dedup(urls).write.format("noop").mode("overwrite").save()

        for probe, fn in (("bpe_segment", bpe_run), ("url_dedup", url_run)):
            fn()  # warm
            durs = []
            for _ in range(3):
                t = time.time()
                fn()
                durs.append(time.time() - t)
            durs.sort()
            out[f"{probe}_sec_{factor}x"] = round(durs[1], 3)
        out[f"bpe_docs_{factor}x"] = ndoc0 * factor
        d.unpersist()
    for probe in ("bpe_segment", "url_dedup"):
        out[f"{probe}_16x_slope"] = round(
            out[f"{probe}_sec_16x"] / out[f"{probe}_sec_1x"] / 16.0, 3
        )

    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
