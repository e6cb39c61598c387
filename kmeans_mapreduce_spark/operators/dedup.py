"""Deduplication operators (north-star): exact, MinHash+LSH, SimHash,
n-gram Jaccard, embedding-cosine near-dup.

Scale design (the point of each shape at 100 TB):

- **exact**: hash-groupBy on the content key — one shuffle keyed by a
  64-bit fingerprint, never by the raw text (shuffle bytes ∝ keys, not
  documents).
- **minhash/LSH**: signatures are a narrow expression per document
  (no explode-shuffle); the only shuffle is the band-bucket self-join,
  whose key (band_id, band_hash) is uniform by construction — no skew.
  Candidate verification (true Jaccard) touches only colliding pairs.
- **simhash**: one explode + one partial-aggregated groupBy per doc;
  near-dup = Hamming distance on 64-bit ints, a cheap bucketed join.
- **embedding cosine**: blocked self-join (here by label as the coarse
  quantizer) so the pair space is |block|² not N².

All hashes are md5-portable (functions.hashing) so the DuckDB oracle
replays every stage bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kmeans_mapreduce_spark.functions.hashing import MINHASH_P, h64, hash_family
from kmeans_mapreduce_spark.functions.text import shingles, tokens
from kmeans_mapreduce_spark.barrier import narrow_barrier

NUM_HASHES = 12  # minhash signature length
BANDS = 4  # LSH bands (rows per band = NUM_HASHES // BANDS = 3)
ROWS_PER_BAND = NUM_HASHES // BANDS
SHINGLE_N = 3  # word n-gram size for near-dup sets
NGRAM_DF_CAP = 100  # posting-list document-frequency cap (skew guard)


def _shingle_py(text) -> set:  # noqa: ANN001 - str | None
    """Python twin of :func:`shingle_set` — ONE definition for every
    Arrow-batched builder (signatures, set table, posting index), so
    the documented bit-parity between them cannot drift. NULL text
    degrades like the Catalyst path's empty-ish fallback (a single
    empty-string token) instead of crashing the worker."""
    w = (text or "").split(" ")
    if len(w) >= SHINGLE_N:
        return {
            " ".join(w[i : i + SHINGLE_N])
            for i in range(len(w) - SHINGLE_N + 1)
        }
    return set(w)


def shingle_set(text_col):
    """Distinct word-3-gram set; docs shorter than n words fall back to
    their token set (so the set is never empty and minhash never NULL).

    Near-dup semantics use shingles, not unigram token sets: in a
    small-vocabulary corpus every long document contains most words
    (token-set Jaccard ≈ 0.9 between unrelated docs), while 3-gram
    overlap stays near zero except for genuinely copied text.

    PERF: only for one-off inline use — inside pipelines prefer
    :func:`with_shingle_set`, which stages the token array through a
    projection so interpreted HOF element accesses hit an attribute,
    not a re-evaluated split (8× difference at sf0.1)."""
    toks = tokens(text_col)
    sh = shingles(toks, SHINGLE_N)
    return F.array_distinct(F.when(F.size(sh) > 0, sh).otherwise(toks))


def with_shingle_set(docs: DataFrame, out: str = "s") -> DataFrame:
    """(doc_id, *, s) — staged shingle-set computation.

    Two projections: text → token array attribute → shingle set, so
    every element access in the shingle lambda reads a materialized
    array. The ``size(w) >= n`` guard (not ``size(sh) > 0``) evaluates
    the shingle transform exactly once per row."""
    w = F.col("__w")
    sh = F.array_distinct(
        F.when(F.size(w) >= SHINGLE_N, shingles(w, SHINGLE_N)).otherwise(w)
    )
    return (
        docs.withColumn("__w", tokens(F.col("text")))
        .withColumn(out, sh)
        .drop("__w")
    )


def content_fp(col):  # noqa: ANN001 - Column in, Column out
    """THE content fingerprint: 60-bit hash of lower(trim(text)).
    One definition shared by batch ``dedup_exact`` and the streaming
    ``stream_dedup_exact`` so the two can never disagree on which
    documents are duplicates."""
    return h64(F.lower(F.trim(col)))


def dedup_exact(docs: DataFrame, key: str = "text") -> DataFrame:
    """Exact dedup: keeper = min doc_id per identical content.

    Groups on the 60-bit fingerprint of the content (shuffle carries a
    long, not the document); md5-collision risk is acceptable for
    dedup semantics and keeps the oracle portable.
    """
    fp = content_fp(F.col(key)).alias("fp")
    return (
        docs.select(fp, "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("keep_doc_id", "n_copies")
    )


def minhash_signature_array(
    docs: DataFrame, num_hashes: int = NUM_HASHES, impl: str = "pandas"
) -> DataFrame:
    """(doc_id, sig ARRAY<BIGINT>) — MinHash signature per document over
    its word-3-gram *set*.

    sig[j] = min over shingles s of (a_j·h64(s) + b_j) mod P — the
    Carter–Wegman universal family over ONE md5 base hash per shingle.
    Both physical forms are narrow maps (no explode, no shuffle: each
    doc is one row in, num_hashes values out) and emit bit-identical
    signatures (asserted in tests/test_plans.py):

    - ``"pandas"`` (default): Arrow-batched builder — Python md5 per
      shingle + one numpy (shingles × num_hashes) multiply-add-mod.
      ~2× faster than the expression form at sf0.1 (interpreted HOF
      per-element overhead dominates there; all int64 arithmetic fits
      without overflow since P < 2^31 bounds every product < 2^62).
    - ``"expr"``: pure Catalyst — base-hash array projection staged so
      md5 evaluates once per shingle, then num_hashes array_mins.
    """
    if impl == "expr":
        fam_a, fam_b = hash_family(num_hashes)
        base = (
            with_shingle_set(docs.select("doc_id", "text"))
            .select(
                "doc_id",
                F.transform(F.col("s"), lambda t: h64(t) % MINHASH_P).alias("bh"),
            )
        )

        def member(a: int, b: int):
            return lambda h: (h * F.lit(a) + F.lit(b)) % MINHASH_P

        sig = F.array(
            *[
                F.array_min(F.transform(F.col("bh"), member(fam_a[j], fam_b[j])))
                for j in range(num_hashes)
            ]
        )
        return base.select("doc_id", sig.alias("sig"))
    if impl != "pandas":
        raise ValueError(f"unknown impl: {impl!r}")

    import hashlib

    import numpy as np
    import pandas as pd

    fam_a, fam_b = hash_family(num_hashes)

    def build(batches):
        A = np.array(fam_a, dtype=np.int64)[None, :]
        B = np.array(fam_b, dtype=np.int64)[None, :]
        for pdf in batches:
            ids, sigs = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                sh = _shingle_py(text)
                h = np.array(
                    [
                        int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
                        % MINHASH_P
                        for s in sh
                    ],
                    dtype=np.int64,
                )[:, None]
                ids.append(doc_id)
                sigs.append(((h * A + B) % MINHASH_P).min(axis=0).tolist())
            yield pd.DataFrame({"doc_id": ids, "sig": sigs})

    return docs.select("doc_id", "text").mapInPandas(
        build, "doc_id LONG, sig ARRAY<BIGINT>"
    )


def minhash_signatures(docs: DataFrame, num_hashes: int = NUM_HASHES) -> DataFrame:
    """Long format (doc_id, h_idx, minhash) — the oracle-friendly view
    of :func:`minhash_signature_array` (posexplode is narrow)."""
    return minhash_signature_array(docs, num_hashes).select(
        "doc_id", F.posexplode("sig").alias("h_idx", "minhash")
    )


def _band_items(sig, band_id: int, rows: int):
    """The band's "h_idx:minhash" items, lexicographically sorted —
    byte-identical to the long-format ``string_agg ORDER BY`` twin."""
    items = F.array(
        *[
            F.concat_ws(
                ":",
                F.lit(str(band_id * rows + r)),
                F.element_at(sig, band_id * rows + r + 1).cast("string"),
            )
            for r in range(rows)
        ]
    )
    return F.concat_ws(",", F.array_sort(items))


def lsh_bands_from_array(
    sig_arr: DataFrame, bands: int = BANDS, num_hashes: int = NUM_HASHES
) -> DataFrame:
    """(doc_id, band_id, band_hash) straight from the signature array —
    a narrow projection + explode, NO shuffle (the long-format path
    re-aggregated the exploded signature, paying a groupBy exchange of
    O(docs × num_hashes) rows for nothing). band_hash = h64 of the
    band's sorted "h_idx:minhash" items — uniform join key, no skew."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands})"
        )
    rows = num_hashes // bands
    per_band = F.array(
        *[
            F.struct(
                F.lit(b).cast("int").alias("band_id"),
                h64(_band_items(F.col("sig"), b, rows)).alias("band_hash"),
            )
            for b in range(bands)
        ]
    )
    return (
        sig_arr.select("doc_id", F.explode(per_band).alias("bb"))
        .select("doc_id", "bb.band_id", "bb.band_hash")
    )


def lsh_bands(
    signatures: DataFrame, bands: int = BANDS, num_hashes: int = NUM_HASHES
) -> DataFrame:
    """Fold a LONG-format signature into (doc_id, band_id, band_hash).

    Kept for callers that start from the long format; pays a groupBy
    shuffle the array path avoids — inside pipelines prefer
    :func:`lsh_bands_from_array`. ``num_hashes`` must mirror the value
    passed to :func:`minhash_signatures` (rows per band is derived from
    it, not from the module default).
    """
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands})"
        )
    rows = num_hashes // bands
    return (
        signatures.withColumn("band_id", (F.col("h_idx") / rows).cast("int"))
        .groupBy("doc_id", "band_id")
        .agg(
            F.concat_ws(
                ",",
                F.array_sort(
                    F.collect_list(
                        F.concat_ws(
                            ":",
                            F.col("h_idx").cast("string"),
                            F.col("minhash").cast("string"),
                        )
                    )
                ),
            ).alias("band_key")
        )
        .select("doc_id", "band_id", h64(F.col("band_key")).alias("band_hash"))
    )


# Above this many members, a band bucket switches from all-pairs to
# star expansion. 256 keeps worst-case per-bucket pair emission at
# cap·(cap−1)/2 ≈ 33 K rows for normal buckets and N−1 for hot ones —
# bounded per task — while leaving every bucket the tested SFs actually
# produce (≤ a few members) on the exact all-pairs path.
LSH_BUCKET_CAP = 256


def candidate_pairs(
    bands_df: DataFrame, bucket_cap: int | None = LSH_BUCKET_CAP
) -> DataFrame:
    """LSH candidates: pairs sharing any band bucket (distinct), with a
    HOT-BUCKET guard (round-8 fix): a boilerplate-heavy crawl shard can
    put N near-identical docs in one bucket, and the unguarded
    self-join emits O(N²) pairs in that single task — the classic LSH
    skew failure at corpus scale. Buckets with more than ``bucket_cap``
    members switch to STAR expansion: only the bucket's minimum doc_id
    pairs with the other members (N−1 pairs), bounding any bucket's
    emission linearly.

    RECALL TRADEOFF (deliberate): the star drops member–member pairs,
    so two docs in a hot bucket that are near-dups of EACH OTHER but
    not of the min-doc_id representative are never Jaccard-verified —
    verified-pair recall is strictly ≤ the unguarded join's (the
    cluster stays connected only when members verify against the rep).
    This is the standard skew/recall dial every production LSH dedup
    ships (cap, sample, or drop hot buckets); the SQL twins mirror the
    SAME rule, so the hash gate pins the capped semantics — it does
    not certify exact all-pairs LSH. The exact-vs-capped delta is
    pinned by a fixture
    (``test_star_cap_recall_delta_vs_exact_is_pinned``) on a planted
    corpus where the two differ. Same shape as the n-gram path's posting df-cap
    (:func:`ngram_jaccard_pairs`); the SQL twins mirror the rule, so
    the gate checks it rather than assuming it. The bucket-stats
    aggregate is map-side combined and keyed identically to the
    self-join — no extra shuffle pattern, one more exchange of
    O(distinct buckets) stat rows."""
    b = bands_df.alias("b")
    left = bands_df
    if bucket_cap is not None:
        stats = bands_df.groupBy("band_id", "band_hash").agg(
            F.count(F.lit(1)).alias("__n"),
            F.min("doc_id").alias("__rep"),
        )
        left = (
            bands_df.join(stats, ["band_id", "band_hash"])
            .filter(
                (F.col("__n") <= F.lit(int(bucket_cap)))
                | (F.col("doc_id") == F.col("__rep"))
            )
            .select("doc_id", "band_id", "band_hash")
        )
    a = left.alias("a")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def shingle_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, s ARRAY<STRING>) — each doc's distinct word-3-gram set,
    via the same Arrow-batched builder as :func:`shingle_postings`
    (sorted for determinism). Faster than the interpreted-HOF
    ``with_shingle_set`` and safe to materialize once before a
    double-sided join."""
    import pandas as pd

    def build(batches):
        for pdf in batches:
            sets = []
            for text in pdf["text"]:
                sets.append(sorted(_shingle_py(text)))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "s": sets})

    return docs.select("doc_id", "text").mapInPandas(
        build, "doc_id LONG, s ARRAY<STRING>"
    )


def jaccard_pairs(
    docs: DataFrame, pairs: DataFrame, threshold: float, digits: int = 6
) -> DataFrame:
    """Verify candidate pairs with true shingle-set Jaccard ≥ threshold
    (the quantity the minhash signature estimates).

    The set table feeds BOTH sides of the pair join; localCheckpoint
    materializes it once instead of re-running the set build per side
    (the same multi-consumer barrier as the ngram posting index)."""
    # build shingle sets only for docs that appear in a candidate pair:
    # a full-corpus set build costs O(corpus) when collisions touch a
    # small fraction of it (the broadcast semi-join is the same prune
    # incremental dedup uses)
    pairs = pairs.transform(narrow_barrier)
    touched = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    pruned = docs.join(F.broadcast(touched), "doc_id", "left_semi")
    toksets = shingle_sets(pruned).transform(narrow_barrier)
    j = (
        pairs.join(toksets.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("s", "sa"), "doc_a")
        .join(toksets.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("s", "sb"), "doc_b")
        .withColumn("inter", F.size(F.array_intersect("sa", "sb")).cast("double"))
        .withColumn("uni", (F.size("sa") + F.size("sb") - F.col("inter")).cast("double"))
        .withColumn("jaccard", F.round(F.col("inter") / F.col("uni"), digits))
    )
    return j.filter(F.col("jaccard") >= threshold).select("doc_a", "doc_b", "jaccard")


def minhash_lsh_dedup(
    docs: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """Full MinHash→LSH→verify near-dup pipeline. Bands come straight
    from the signature array (no re-aggregation shuffle); the only
    exchanges left are the band-bucket self-join and the verify join.

    The bands are MATERIALIZED (localCheckpoint) before
    :func:`candidate_pairs`: its hot-bucket guard makes the bands feed
    THREE consumers (both self-join sides + the bucket-stats
    aggregate), and left as lineage each would re-run the Arrow
    signature build over the full corpus — the same
    build-once-query-many barrier as ``ngram_jaccard_pairs``'s posting
    index (measured at sf0.1: 2.3 → 2.0 s warm; at cluster scale the
    index would be persisted instead)."""
    bands = lsh_bands_from_array(minhash_signature_array(docs)).transform(
        narrow_barrier
    )
    return jaccard_pairs(docs, candidate_pairs(bands), threshold)


def shingle_postings(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, len_bucket, sh): each document's distinct word-
    3-gram set exploded to posting rows, via an Arrow-batched
    ``mapInPandas`` builder.

    Same contract as ``explode(with_shingle_set(...))`` — Python
    ``text.split(" ")`` is exact for this corpus (single-space
    separated, functions/text.py tokenization contract) and ``set()``
    mirrors ``array_distinct`` — but 5× faster (0.5s vs 2.4s warm at
    sf0.1): the Catalyst higher-order shingle transform is interpreted
    per element, while this is one Python pass per Arrow batch. The
    oracle twin rebuilds the same postings independently in SQL, so
    parity is checked end-to-end, not assumed."""
    import pandas as pd

    def build(batches):
        for pdf in batches:
            out_doc, out_lang, out_lb, out_sh = [], [], [], []
            for doc_id, lang, n_chars, text in zip(
                pdf["doc_id"], pdf["lang"], pdf["n_chars"], pdf["text"]
            ):
                sh = _shingle_py(text)
                lb = int((n_chars or 0) / 100)
                for s in sh:
                    out_doc.append(doc_id)
                    out_lang.append(lang)
                    out_lb.append(lb)
                    out_sh.append(s)
            yield pd.DataFrame(
                {
                    "doc_id": out_doc,
                    "lang": out_lang,
                    "len_bucket": out_lb,
                    "sh": out_sh,
                }
            )

    return docs.select("doc_id", "lang", "n_chars", "text").mapInPandas(
        build, "doc_id LONG, lang STRING, len_bucket INT, sh STRING"
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.05,
    digits: int = 6,
    df_cap: int | None = NGRAM_DF_CAP,
) -> DataFrame:
    """n-gram Jaccard near-dup via an INVERTED INDEX (no LSH): explode
    each doc's shingle set, equi-join on (block, shingle) to count
    shared shingles per candidate pair, then Jaccard from
    |A∩B| = shared and |A∪B| = |A|+|B|−shared.

    Scale shape: the shuffle is keyed by shingle; a stopword-like
    shingle appearing in d docs would fan out O(d²) join rows, so
    postings whose per-(lang, len_bucket, shingle) document frequency
    exceeds ``df_cap`` are DROPPED before the self-join (the standard
    df-cap trick: a shingle shared by >cap docs carries almost no
    near-dup signal, and dropping it only lowers |A∩B| marginally).
    The hot-key set is tiny by construction (few shingles can exceed
    the cap), so the drop is a broadcast anti-join — the df aggregate
    is map-side combined, shuffle O(distinct shingles). Pairs that
    share nothing are never materialized and there is no per-pair
    array intersection. Blocking on (lang, n_chars/100) bounds the
    posting-join fan-out. 5× faster than the blocked array_intersect
    form at sf0.1 and the right plan at 100 TB.

    Union sizes |A|, |B| stay the FULL (uncapped) shingle-set sizes on
    both engines, so the capped Jaccard is a deterministic, mirrored
    statistic: inter_capped / (|A| + |B| − inter_capped).
    """
    # INDEX BUILD BARRIER: the posting list feeds FOUR consumers (hot-key
    # aggregate, both self-join sides, per-doc sizes). Left as lineage,
    # each consumer would re-run the shingle build over the full corpus
    # (~4 redundant passes, 7.2s → 1.5s at sf0.1 with materialize +
    # vectorized build). localCheckpoint materializes the exploded index
    # once — the same build-once-query-many shape as
    # similarity.ivf_ann_topk; at cluster scale the index would be
    # persisted (parquet bucketed by shingle) instead.
    post = shingle_postings(docs).transform(narrow_barrier)
    # |set| per doc = its posting count (shingle sets are distinct) —
    # derived from the materialized index, not another shingle pass
    sizes = post.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    if df_cap is not None:
        hot = (
            post.groupBy("lang", "len_bucket", "sh")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > df_cap)
            .select("lang", "len_bucket", "sh")
        )
        post = post.join(
            F.broadcast(hot), ["lang", "len_bucket", "sh"], "left_anti"
        )
    # ±1 length-bucket window: strict equality missed near-identical
    # pairs straddling a 100-char boundary (199 vs 201 chars → buckets
    # 1 and 2). Each posting replicates to join keys {b, b+1}; the
    # greatest-bucket residual makes every qualifying pair-shingle
    # match EXACTLY once (equal buckets would otherwise match under
    # both keys). Pairs whose lengths differ by ≥2 buckets remain the
    # documented accepted miss — length blocking assumes near-dups are
    # near-equal length; containment is dedup_span_fraction's job.
    probe = post.select(
        "doc_id",
        "lang",
        "len_bucket",
        "sh",
        F.explode(
            F.array(F.col("len_bucket"), F.col("len_bucket") + 1)
        ).alias("jb"),
    )
    a, b = probe.alias("a"), probe.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.jb") == F.col("b.jb"))
            & (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.greatest(F.col("a.len_bucket"), F.col("b.len_bucket"))
                == F.col("a.jb")
            ),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    j = (
        shared.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sza"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "szb"), "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter").cast("double")
                / (F.col("sza") + F.col("szb") - F.col("inter")).cast("double"),
                digits,
            ),
        )
    )
    return j.filter(F.col("jaccard") >= threshold).select("doc_a", "doc_b", "jaccard")


def connected_components(
    pairs: DataFrame, max_iter: int = 20, small_graph_threshold: int = 100_000
) -> DataFrame:
    """Connected components over near-dup pairs — the CANONICALIZATION
    step after pair detection: duplicates form clusters (a~b, b~c ⇒
    {a,b,c}), and every member maps to one representative (the minimum
    doc_id reachable through the pair graph) so the pipeline can keep
    exactly one copy per cluster.

    Algorithm: distributed min-label propagation. Each vertex starts
    labeled with itself; every iteration joins labels across edges and
    takes the elementwise min; stop when no label changes (near-dup
    clusters have tiny diameter, so this converges in a handful of
    rounds — the same fixpoint the large-star/small-star formulation
    reaches). Each iteration is one equi-join + one groupBy keyed by
    vertex — both map-side combined; ``localCheckpoint`` per iteration
    keeps lineage O(1) exactly like the Lloyd loop.

    Output: (doc_id, cluster_rep) for every doc appearing in a pair.
    The DuckDB twin computes the identical fixpoint with a recursive
    transitive-closure CTE — an independent algorithm.

    Adaptive small-graph path: a near-dup pair graph is usually
    metadata-scale (pairs ∝ duplicates, not corpus), and paying ~2
    Spark jobs per propagation round for a few thousand edges is all
    fixed overhead — so below ``small_graph_threshold`` edges the
    graph is collected and solved with driver-side union-find (same
    min-id labels, same output), exactly the broadcast-the-small-side
    logic applied to iteration. The distributed loop remains the path
    for genuinely large graphs.
    """
    edges = (
        pairs.select(F.col("doc_a").alias("s"), F.col("doc_b").alias("t"))
        .union(pairs.select(F.col("doc_b").alias("s"), F.col("doc_a").alias("t")))
        .distinct()
        .transform(narrow_barrier)
    )
    if small_graph_threshold and edges.count() <= small_graph_threshold:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        es = [(r["s"], r["t"]) for r in edges.collect()]
        for s, t in es:
            parent.setdefault(s, s)
            parent.setdefault(t, t)
            rs, rt = find(s), find(t)
            if rs != rt:
                parent[rs] = rt
        comp_min: dict[int, int] = {}
        for v in parent:
            r = find(v)
            comp_min[r] = min(comp_min.get(r, v), v)
        rows = [(v, comp_min[find(v)]) for v in sorted(parent)]
        id_type = pairs.schema["doc_a"].dataType.simpleString()
        return pairs.sparkSession.createDataFrame(
            rows, f"doc_id {id_type}, cluster_rep {id_type}"
        )
    labels = (
        edges.select(F.col("s").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("label"))
        .transform(narrow_barrier)
    )
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, edges["s"] == labels["id"])
            .groupBy("t")
            .agg(F.min("label").alias("nmin"))
        )
        new_labels = (
            labels.join(nbr_min, labels["id"] == nbr_min["t"], "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("label"),
            )
            .transform(narrow_barrier)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # min-label propagation moves the component minimum one hop per
        # iteration: a graph whose diameter exceeds max_iter would
        # return PARTIAL labels — several representatives for one true
        # component — and downstream keep-best would silently retain
        # duplicates. Fail loudly; callers with long-chain graphs raise
        # max_iter (cost is one extra pass per unit of diameter).
        raise RuntimeError(
            f"connected_components: not converged after {max_iter} "
            "iterations (component diameter exceeds max_iter)"
        )
    return labels.select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_rep")
    )


def keep_best_per_cluster(
    docs: DataFrame, pairs: DataFrame, quality: DataFrame
) -> DataFrame:
    """Canonical-document SELECTION: after near-dup clustering, keep
    the single highest-quality member of each cluster (tiebreak lowest
    doc_id) instead of the arbitrary min-id representative. This is
    the retained corpus a training pipeline actually materializes —
    one row per surviving document, with how many near-dups it
    absorbed.

    Input: ``docs`` (the corpus), ``pairs`` (verified near-dup pairs,
    doc_a/doc_b), ``quality`` (per-doc quality_score, e.g.
    :func:`~kmeans_mapreduce_spark.operators.textops.quality`).

    Scale shape: :func:`connected_components` runs only over docs that
    appear in a pair — a small fraction of the corpus at web scale.
    The label join back to the corpus is an equi-join on doc_id (AQE
    broadcasts it when the clustered subset is small); the final
    pick-one is a single window shuffle keyed by canonical_id, whose
    skew is bounded by the largest near-dup cluster — the same key
    distribution the dedup itself already survived. Quality is rounded
    (6 digits) BEFORE ranking so both engines rank identical keys.

    Output: (canonical_id, kept_doc_id, n_members, kept_quality).
    """
    from pyspark.sql import Window

    cc = connected_components(pairs)
    canon = (
        docs.select("doc_id")
        # SMJ deliberately kept (r16 adjudication of the r15 deferred
        # SHUFFLE_HASH flip): the stash-toggle A/B (6 reps × 3 runs,
        # health-stamped) read SHJ at 4.21/4.49 s vs SMJ 3.80 s medians
        # — not beyond spread in EITHER direction, with SHJ slightly
        # behind. SMJ additionally spills gracefully if a pathological
        # corpus makes the clustered subset large. Numbers in
        # OPTIMIZATION_r16.md.
        .join(cc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_rep"), F.col("doc_id")).alias(
                "canonical_id"
            ),
        )
    )
    # LEFT join: a doc missing from the quality table must not vanish
    # from the retained corpus (inner semantics silently dropped docs —
    # and whole singleton clusters — whenever quality covered a
    # filtered subset); unmeasured docs rank below every scored one
    member = canon.join(
        quality.select("doc_id", "quality_score"), "doc_id", "left"
    ).withColumn(
        "__qrank", F.coalesce(F.col("quality_score"), F.lit(float("-inf")))
    )
    w = Window.partitionBy("canonical_id")
    ranked = member.withColumn(
        "rk",
        F.row_number().over(
            w.orderBy(F.desc("__qrank"), F.asc("doc_id"))
        ),
    ).withColumn("n_members", F.count("*").over(w))
    return ranked.filter(F.col("rk") == 1).select(
        "canonical_id",
        F.col("doc_id").alias("kept_doc_id"),
        "n_members",
        F.col("quality_score").alias("kept_quality"),
    )


# Default sketch width: 60 bits → with max_hamming=3 the pigeonhole
# blocking uses 4 bands of 15 bits = 32768 distinct band values, so the
# candidate equi-join stays selective at web scale (the 32-bit/8-bit-band
# default collapsed toward all-pairs on template-heavy corpora: 256
# buckets per band). 60 keeps 2**b inside the signed-long range both
# engines share; Manku et al. use 64, which a BIGINT sketch can't hold.
SIMHASH_BITS = 60


def simhash(docs: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """SimHash document sketch over token hashes.

    Per doc: for each bit b, sum ±1 over tokens by whether bit b of
    h64(token) is set; simhash bit b = 1 iff the sum > 0. Exact integer
    arithmetic end-to-end → oracle matches without rounding. One
    explode + one partially-aggregated groupBy (bit counters combine
    map-side, so the shuffle is O(docs), not O(tokens))."""
    if not 1 <= bits <= 62:
        raise ValueError(
            f"simhash: bits must be 1..62 (got {bits}) — 2**b literals "
            "above 62 overflow the signed-long range in both engines"
        )
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("t")
    ).withColumn("h", h64(F.col("t")))
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(bits)
    ]
    sums = tok.groupBy("doc_id").agg(*aggs)
    sim = None
    for b in range(bits):
        bit = F.when(F.col(f"s{b}") > 0, F.lit(2 ** b).cast("long")).otherwise(F.lit(0).cast("long"))
        sim = bit if sim is None else sim + bit
    return sums.select("doc_id", sim.alias("simhash"))


SIMHASH_MAX_HAMMING = 3


def simhash_pairs(
    docs: DataFrame, max_hamming: int = SIMHASH_MAX_HAMMING, bits: int = SIMHASH_BITS
) -> DataFrame:
    """Hamming-near SimHash join — the lookup half of the SimHash
    scheme (Manku/Jain/Sarma's near-dup detection): pairs of documents
    whose sketches differ in at most ``max_hamming`` bits.

    Band blocking by pigeonhole: split the sketch into
    ``max_hamming + 1`` bands — ≤ ``max_hamming`` flipped bits must
    leave at least one band untouched, so every qualifying pair shares
    some exact band value. Candidates are therefore an equi-join on
    (band_idx, band_value) — never all-pairs — and the verify is one
    popcount over XOR, fully JVM-side.

    Scale shape: the Hamming verify AND a first-matching-band emit
    rule both live INSIDE the join condition, so each qualifying pair
    leaves the join exactly once (from the lowest band whose value
    matches) and failing candidates die inside the join operator —
    there is no post-join ``distinct`` and no shuffle of the O(n²_bucket)
    candidate volume, only of surviving pairs. Skew is bounded by the
    most common band value (near-identical template docs — the same
    population the minhash path caps), and AQE skew-split applies to
    the join itself.
    """
    sh = simhash(docs, bits)
    return hamming_banded_pairs(
        sh, "simhash", bits, max_hamming, id_col="doc_id", out_prefix="doc"
    )


def hamming_banded_pairs(
    sketches: DataFrame,
    hash_col: str,
    bits: int,
    max_hamming: int,
    id_col: str = "doc_id",
    out_prefix: str = "doc",
) -> DataFrame:
    """The banded Hamming self-join shared by every bit-sketch
    near-dup family (SimHash over text, pHash over images): pairs of
    rows whose ``hash_col`` int64 sketches differ in at most
    ``max_hamming`` bits, found via pigeonhole band blocking — never
    all-pairs. Input is the (id, sketch) table; output columns are
    ``{out_prefix}_a``, ``{out_prefix}_b``, ``hamming``.

    Scale shape (see ``simhash_pairs``): candidates are an equi-join
    on (band_idx, band_value); the Hamming verify AND a
    first-matching-band emit rule live INSIDE the join condition so
    each qualifying pair leaves exactly once and failing candidates
    die inside the join operator — no post-join distinct, no shuffle
    of candidate volume. The sketch is localCheckpointed so the
    self-join never re-executes its producing subtree on both sides
    (r6 verdict task 6)."""
    nb = max_hamming + 1
    if bits % nb:
        raise ValueError(
            "hamming_banded_pairs: bits must divide into max_hamming+1 bands"
        )
    w = bits // nb
    sh = sketches.select(id_col, hash_col).transform(narrow_barrier)
    banded = (
        sh.select(
            id_col,
            hash_col,
            F.explode(F.sequence(F.lit(0), F.lit(nb - 1))).alias("b"),
        )
        .withColumn(
            "bv",
            F.expr(f"shiftright({hash_col}, b * {w})").bitwiseAND(
                F.lit((1 << w) - 1)
            ),
        )
    )
    x, y = banded.alias("x"), banded.alias("y")
    xor = F.col(f"x.{hash_col}").bitwiseXOR(F.col(f"y.{hash_col}"))
    # lowest band index whose w bits of the XOR are all zero — the one
    # band allowed to emit this pair (dedup without a distinct()).
    # The fallback arm is unreachable: bv equality guarantees band x.b
    # of the XOR is zero for every row the equi-join produces.
    first_match = F.lit(nb - 1)
    for b in range(nb - 2, -1, -1):
        band_zero = (
            F.shiftright(xor, b * w).bitwiseAND(F.lit((1 << w) - 1)) == 0
        )
        first_match = F.when(band_zero, F.lit(b)).otherwise(first_match)
    return (
        x.join(
            y,
            (F.col("x.b") == F.col("y.b"))
            & (F.col("x.bv") == F.col("y.bv"))
            & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
            & (F.bit_count(xor) <= max_hamming)
            & (F.col("x.b") == first_match),
        )
        .select(
            F.col(f"x.{id_col}").alias(f"{out_prefix}_a"),
            F.col(f"y.{id_col}").alias(f"{out_prefix}_b"),
            F.bit_count(xor).cast("long").alias("hamming"),
        )
    )


EMBED_BLOCK_ROW_CAP = 8192  # tile oversized cosine blocks above this


def assign_cells(
    emb: DataFrame,
    centers: list[tuple[int, list[float]]],
    out: str = "label",
    keep_d2: str | None = None,
) -> DataFrame:
    """Coarse-cell assignment of a ``(vec_id, embedding)`` table for the
    cell-blocked embedding ops (semantic dedup, k-NN graph, IVF cell
    maps): :func:`kmeans_nd.assign_nd`'s cid under ``out`` and, if
    ``keep_d2`` names it, the winning squared distance (the outlier
    detector's input). Ties go to the lowest cid, as the twins'
    ``ORDER BY d2, cid``."""
    from kmeans_mapreduce_spark.operators.kmeans_nd import assign_nd

    cols = [F.col("cid").alias(out)]
    if keep_d2 is not None:
        cols.append(F.col("min_d2").alias(keep_d2))
    return assign_nd(
        emb.select("vec_id", F.col("embedding").alias("vec")), centers
    ).select("vec_id", F.col("vec").alias("embedding"), *cols)


def seq_normalize(V):
    """L2-normalize rows with a dimension-SEQUENTIAL sum of squares —
    the same fold order as ``F.aggregate`` / DuckDB ``list_sum``, so
    downstream exact dots are bit-identical to the SQL twins. The fold
    order is load-bearing; do not replace with np.linalg.norm."""
    import numpy as np

    acc = np.zeros(len(V))
    for d in range(V.shape[1]):
        acc += V[:, d] * V[:, d]
    with np.errstate(divide="ignore", invalid="ignore"):
        return V / np.sqrt(acc)[:, None]


def seq_fold_gemm(A, B):
    """Dense dot matrix with dimension-sequential accumulation:
    G[i, j] sums over dims in index order — bit-identical to a per-pair
    sequential fold, unlike BLAS ``A @ B.T`` (pairwise/blocked sums).
    Use where the emitted doubles must match the oracle exactly."""
    import numpy as np

    G = np.zeros((len(A), len(B)))
    for d in range(A.shape[1]):
        G += A[:, d, None] * B[None, :, d]
    return G


def tiled_blocks(emb: DataFrame, row_cap: int) -> DataFrame:
    """Split oversized near-dup blocks into PAIR-COMPLETE tile groups.

    A block (label) with ``bn`` rows is hashed into
    m = ceil(bn/row_cap) tiles; each row lands in tile
    t = crc32(vec_id) mod m and is replicated into every tile-pair
    group that contains t: (a, t) for a < t and (t, b) for b ≥ t — so
    every unordered row pair within the block appears in EXACTLY one
    group (ta, tb), ta ≤ tb. Replication factor is m (1 for normal
    blocks: the single group (0,0) reproduces the untiled layout).

    This is the exact blocked self-join: unlike re-quantizing the cell
    (which loses cross-subcell pairs), tiling preserves the full pair
    space while bounding every task's GEMM to ~row_cap² and turning
    one straggler block into m(m+1)/2 parallel tasks. Block counts
    come from a one-column aggregate scan (parquet prunes to `label`)
    broadcast back — quantizer metadata, not a data shuffle.
    """
    counts = emb.groupBy("label").agg(F.count(F.lit(1)).alias("__bn"))
    t = F.col("__t")
    tiles = F.sequence(F.lit(0), F.col("__m") - 1)
    below = F.transform(
        F.filter(tiles, lambda a: a < t),
        lambda a: F.struct(a.cast("int").alias("ta"), t.alias("tb")),
    )
    above = F.transform(
        F.filter(tiles, lambda b: b >= t),
        lambda b: F.struct(t.alias("ta"), b.cast("int").alias("tb")),
    )
    return (
        emb.select("vec_id", "label", "embedding")
        .join(F.broadcast(counts), "label")
        .withColumn(
            "__m", F.ceil(F.col("__bn") / F.lit(float(row_cap))).cast("int")
        )
        .withColumn(
            "__t",
            F.pmod(F.crc32(F.col("vec_id").cast("string")), F.col("__m")).cast(
                "int"
            ),
        )
        .select(
            "label",
            "vec_id",
            "embedding",
            "__t",
            F.explode(F.concat(below, above)).alias("__g"),
        )
        .select(
            "label",
            "vec_id",
            "embedding",
            "__t",
            F.col("__g.ta").alias("ta"),
            F.col("__g.tb").alias("tb"),
        )
    )


def embedding_near_dup(
    emb: DataFrame,
    threshold: float = 0.9,
    digits: int = 6,
    row_cap: int = EMBED_BLOCK_ROW_CAP,
) -> DataFrame:
    """Embedding-cosine near-dup: pairs within the same coarse block
    (label — stands in for an IVF cell) with cosine ≥ threshold.

    Physical plan: ONE shuffle keyed by (block, tile-pair), then a
    numpy GEMM per group inside ``applyInPandas`` — normalize each
    vector once, ``A @ B.T``, threshold. The O(|block|²) pair space
    never materializes as Spark rows; it lives as a float64 matrix
    tile in the worker. This is the FAISS-flat shape and ~30× faster
    than a per-pair Catalyst dot, whose higher-order functions
    (``aggregate``/``zip_with``) are interpreted, never codegen'd.

    Skew: oversized blocks are split by :func:`tiled_blocks` into
    pair-complete tile groups of ≤ ~row_cap rows per side, so one hot
    label becomes m(m+1)/2 bounded parallel tasks instead of a
    straggler with an unbounded GEMM. Normal-sized blocks pay nothing
    (m = 1 → one group, no replication).

    Oracle parity: GEMM changes float summation order, so it is used
    only as a PREFILTER (with a margin far wider than the ~1e-14 GEMM
    error). Pairs that might survive 6-digit rounding are recomputed
    with the exact sequential fold order of ``F.aggregate`` / DuckDB
    ``list_sum`` — and both normalization and the pair dot are
    row-local / commutative, so the emitted doubles are bit-identical
    no matter which tile group computed them.

    The GEMM is chunked row-wise so worker memory is O(chunk × rows),
    never O(rows²)."""
    import numpy as np
    import pandas as pd

    # round(x, digits) >= threshold  iff  x >= threshold - 0.5*10^-digits
    # (HALF_UP); widen by 1e-9 to swallow GEMM vs sequential-fold noise.
    cut = threshold - 0.5 * 10 ** (-digits) - 1e-9
    chunk = 2048

    def _exact_dots(A: np.ndarray, B: np.ndarray) -> np.ndarray:
        # exact recompute for survivors, sequential fold order
        dots = np.zeros(len(A))
        for d in range(A.shape[1]):
            dots += A[:, d] * B[:, d]
        return dots

    empty = pd.DataFrame(
        {
            "vec_a": np.array([], dtype=np.int64),
            "vec_b": np.array([], dtype=np.int64),
            "dot": np.array([], dtype=np.float64),
        }
    )

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return empty
        ta, tb = int(pdf["ta"].iat[0]), int(pdf["tb"].iat[0])
        if ta == tb:
            pdf = pdf.sort_values("vec_id")
            ids = pdf["vec_id"].to_numpy()
            Vn = seq_normalize(np.stack(pdf["embedding"].to_numpy()).astype(np.float64))
            out_a, out_b = [], []
            for lo in range(0, len(ids), chunk):
                hi = min(lo + chunk, len(ids))
                G = Vn[lo:hi] @ Vn.T  # GEMM prefilter tile
                ci, cj = np.nonzero(G >= cut)
                # id-based upper triangle (not positional): duplicate
                # vec_id values must not emit self-pairs the id-ordered
                # join form / DuckDB twin would exclude
                keep = ids[ci + lo] < ids[cj]
                out_a.append(ci[keep] + lo)
                out_b.append(cj[keep])
            ii = np.concatenate(out_a)
            jj = np.concatenate(out_b)
            if not len(ii):
                return empty
            dots = _exact_dots(Vn[ii], Vn[jj])
            return pd.DataFrame({"vec_a": ids[ii], "vec_b": ids[jj], "dot": dots})
        # cross-tile group: every (row in ta) × (row in tb) pair,
        # oriented by id afterwards (same vec_id → same tile, so
        # cross-tile id collisions cannot happen)
        a_pdf = pdf[pdf["__t"] == ta].sort_values("vec_id")
        b_pdf = pdf[pdf["__t"] == tb].sort_values("vec_id")
        if not len(a_pdf) or not len(b_pdf):
            return empty
        ids_a = a_pdf["vec_id"].to_numpy()
        ids_b = b_pdf["vec_id"].to_numpy()
        An = seq_normalize(np.stack(a_pdf["embedding"].to_numpy()).astype(np.float64))
        Bn = seq_normalize(np.stack(b_pdf["embedding"].to_numpy()).astype(np.float64))
        out_a, out_b = [], []
        for lo in range(0, len(ids_a), chunk):
            hi = min(lo + chunk, len(ids_a))
            G = An[lo:hi] @ Bn.T
            ci, cj = np.nonzero(G >= cut)
            out_a.append(ci + lo)
            out_b.append(cj)
        ii = np.concatenate(out_a)
        jj = np.concatenate(out_b)
        if not len(ii):
            return empty
        dots = _exact_dots(An[ii], Bn[jj])
        ia, ib = ids_a[ii], ids_b[jj]
        return pd.DataFrame(
            {
                "vec_a": np.minimum(ia, ib),
                "vec_b": np.maximum(ia, ib),
                "dot": dots,
            }
        )

    pairs = (
        tiled_blocks(emb, row_cap)
        .groupBy("label", "ta", "tb")
        .applyInPandas(block_pairs, "vec_a long, vec_b long, dot double")
    )
    return pairs.select(
        "vec_a",
        "vec_b",
        F.round(F.col("dot"), digits).alias("cosine"),
    ).filter(F.col("cosine") >= threshold)


def duplicated_span_stats(docs: DataFrame, digits: int = 6) -> DataFrame:
    """Per-document duplicated-span fraction: the share of a document's
    distinct word-3-gram shingles that also occur in at least one OTHER
    document (corpus-wide document frequency > 1) — the span-level
    duplication signal behind substring-dedup pipelines (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better"),
    at shingle granularity. Downstream, docs above a dup_fraction
    threshold are candidates for removal or span-trimming; nothing
    like it exists in the reference (north-star surface, SURVEY §2.2).

    Scale shape: unlike the pairwise n-gram join there is NO self-join
    and nothing quadratic — one shuffle keyed by shingle for the df
    count (map-side combined), a same-key equi-join of postings to df
    (1:1 per posting row, exchange reused), then a per-doc aggregate.
    A stopword-like hot shingle adds O(df) join rows, not O(df²); AQE
    skew-split covers the reducer imbalance. The posting index is
    materialized once (localCheckpoint) because it feeds both the df
    aggregate and the join probe side.

    Output: (doc_id, n_shingles, n_dup, dup_fraction).
    """
    post = (
        shingle_postings(docs).select("doc_id", "sh").transform(narrow_barrier)
    )
    df = post.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    per = (
        post.join(df, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("df") > 1).cast("long")).alias("n_dup"),
        )
    )
    return per.withColumn(
        "dup_fraction",
        F.round(
            F.col("n_dup").cast("double") / F.col("n_shingles").cast("double"),
            digits,
        ),
    )


# ---------------------------------------------------------------------------
# Edit-distance (typo-tolerant) fuzzy self-join — Pass-Join segments
# ---------------------------------------------------------------------------

FUZZY_PREFIX_LEN = 40  # compare field: first N chars of the document
FUZZY_MAX_DIST = 5  # Levenshtein threshold (=> 6 segments)


def _seg_len(L, i, k):  # noqa: ANN001 - Column-or-int polymorphic helpers
    """Length of segment ``i`` when a length-``L`` string splits into
    ``k`` even segments (first ``L % k`` segments get the extra char)."""
    return F.when(F.lit(i) < L % k, (L / k).cast("int") + 1).otherwise(
        (L / k).cast("int")
    )


def _seg_start(L, i, k):  # noqa: ANN001
    """1-based start of segment ``i`` under the same scheme."""
    return 1 + F.lit(i) * (L / k).cast("int") + F.least(F.lit(i), L % k)


def fuzzy_prefix_pairs(
    docs: DataFrame,
    prefix_len: int = FUZZY_PREFIX_LEN,
    max_dist: int = FUZZY_MAX_DIST,
) -> DataFrame:
    """Typo-tolerant near-dup join: document pairs whose text prefixes
    are within ``max_dist`` edits, found WITHOUT an all-pairs
    Levenshtein — the Pass-Join segment algorithm (Li, Deng, Feng,
    VLDB 2011).

    Pigeonhole: split every prefix into ``max_dist + 1`` even segments;
    ``max_dist`` edits cannot touch all of them, so a matching pair
    must contain one segment VERBATIM, position-shifted by at most
    ``max_dist``. Candidates are therefore an equi-join between each
    doc's segments and every doc's position-windowed substrings under
    the partner's length scheme; an exact ``levenshtein`` verifies
    survivors. False positives are impossible (exact verify) and
    recall is exact by the pigeonhole argument — unlike q-gram count
    filtering, whose bound goes vacuous on gram-poor or template-heavy
    prefixes (measured: 1 missed pair at sf0.1), segments stay
    discriminative because they are ~L/(d+1) chars long. A brute-force
    equality test pins both properties.

    Tiny prefixes (< ``max_dist + 1`` chars, unsegmentable) fall back
    to a pool with their only possible partners (length <=
    2·max_dist), joined as a crossJoin over the (trivially bounded)
    distinct-short-prefix set.

    Identical prefixes collapse FIRST, everywhere (round 6): the
    whole candidate+verify machinery runs over the DISTINCT-prefix
    set, and doc pairs come back through two output-sized equi-joins
    at the end (identical-prefix groups rejoin as dist-0 pairs via a
    count>1 group scan, never through the segment join). A crawl
    corpus's boilerplate/mirror pages make prefix multiplicity the
    dominant growth axis — measured on the 16×-replica probe, where
    distinct prefixes stay constant while docs grow 16×: the
    segment-join + levenshtein cost is now flat in the replica count
    and only the (irreducible, answer-sized) expansion grows.

    Scale shape: probe fan-out is a constant per distinct prefix
    (segments × shifts × partner length classes, ~6·11·|lens| rows);
    the shuffle is the (len-class, seg-idx, segment) equi-join —
    segment strings are long enough to spread the key space, and the
    verify join touches candidate prefix pairs only. Length classes
    make the join hit only ±max_dist neighbors.
    """
    k = max_dist + 1
    docpre = docs.select(
        "doc_id", F.substring("text", 1, prefix_len).alias("p")
    ).transform(narrow_barrier)
    # the distinct-prefix working set: all candidate generation and
    # all levenshtein verification happen at this granularity
    pre = (
        docpre.select("p")
        .distinct()
        .withColumn("plen", F.length("p").cast("int"))
        .transform(narrow_barrier)
    )

    idx = F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("i")
    L = F.col("plen")
    segs = (
        pre.filter(L >= k)
        .select("p", "plen", idx)
        .select(
            F.col("p").alias("p_s"),
            F.col("plen").alias("L"),
            "i",
            F.col("p").substr(
                _seg_start(L, F.col("i"), k), _seg_len(L, F.col("i"), k)
            ).alias("s"),
        )
    )

    lens = pre.filter(L >= k).select(F.col("plen").alias("L")).distinct()
    shift = F.explode(
        F.sequence(F.lit(-max_dist), F.lit(max_dist))
    ).alias("d")
    Lc = F.col("L")
    st = _seg_start(Lc, F.col("i"), k) + F.col("d")
    sl = _seg_len(Lc, F.col("i"), k)
    # index the shorter side's scheme, probe from the longer (WLOG in a
    # self-join): halves probe fan-out and join volume, still exact.
    # Shift budget (Pass-Join's multi-match substring selection): a
    # segment shifted by d needs |d| net insert/delete edits BEFORE it
    # and |Δ−d| more AFTER it to close the remaining length gap
    # Δ = plen−L; the two edit sets are disjoint, so |d| + |Δ−d| ≤
    # max_dist is necessary — for same-length pairs this halves the
    # shift fan-out (|d| ≤ max_dist/2), and measured it cuts candidate
    # volume ~2× on template-heavy prefixes with zero recall loss (the
    # brute-force-equality tests pin exactness).
    delta = F.col("plen") - F.col("L")
    probe = (
        pre.join(
            F.broadcast(lens),
            (F.col("L") <= F.col("plen"))
            & (F.col("plen") - F.col("L") <= max_dist),
        )
        .select("p", "plen", "L", idx)
        .select("p", "plen", "L", "i", shift)
        .filter(
            (st >= 1)
            & (st + sl - 1 <= F.col("plen"))
            & (F.abs(F.col("d")) + F.abs(delta - F.col("d")) <= max_dist)
        )
        .select(
            F.col("p").alias("p_p"),
            "L",
            "i",
            F.col("p").substr(st, sl).alias("s"),
        )
    )

    # verify INLINE on the segment join's output (levenshtein on ~1.4×
    # duplicated candidates beats a distinct shuffle of the candidate
    # set plus two re-joins to fetch the prefixes back; the distinct
    # below touches only surviving pairs, a set the size of the answer)
    # thresholded levenshtein: banded O(len·d) DP with early abandon
    # (unbounded lev on non-ASCII text measured 15× slower here);
    # returns -1 above the threshold, hence the 0 <= dist guard below
    matched = (
        segs.join(probe, ["L", "i", "s"])
        .filter(F.col("p_s") != F.col("p_p"))
        .select(
            F.least("p_s", "p_p").alias("pa"),
            F.greatest("p_s", "p_p").alias("pb"),
            F.levenshtein("p_s", "p_p", max_dist).cast("long").alias("dist"),
        )
    )
    # tiny-prefix pool: crossJoin over the distinct short prefixes
    # (bounded by the distinct-short-string count, <= sum over L<=2d
    # of |alphabet|^L); p_s <= p_p keeps the identical pair so tiny
    # identical groups expand too
    reps = pre.filter(L <= 2 * max_dist).select("p")
    rep_pairs = (
        reps.select(F.col("p").alias("pa"))
        .crossJoin(reps.select(F.col("p").alias("pb")))
        .filter(F.col("pa") <= F.col("pb"))
        .select(
            "pa",
            "pb",
            F.levenshtein("pa", "pb", max_dist).cast("long").alias("dist"),
        )
    )
    # identical-prefix groups in the segmentable region (>1 member):
    # dist-0 pairs by definition — a narrow count scan, never the
    # segment join (their pairwise OUTPUT alone is quadratic in group
    # size; no candidate algorithm beats output size)
    ident = (
        docpre.groupBy("p")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter((F.col("n") > 1) & (F.length("p") > 2 * max_dist))
        .select(
            F.col("p").alias("pa"),
            F.col("p").alias("pb"),
            F.lit(0).cast("long").alias("dist"),
        )
    )
    prefix_pairs = (
        matched.unionByName(rep_pairs)
        .unionByName(ident)
        .filter((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
        .distinct()
    )
    # expand back to doc pairs: two equi-joins whose cost is the
    # answer itself (each doc carries exactly one prefix, so a doc
    # pair arises from exactly one prefix pair)
    return (
        prefix_pairs.join(
            docpre.select(F.col("doc_id").alias("da"), F.col("p").alias("pa")),
            "pa",
        )
        .join(
            docpre.select(F.col("doc_id").alias("db"), F.col("p").alias("pb")),
            "pb",
        )
        .filter(F.col("da") != F.col("db"))
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "dist",
        )
        .distinct()
    )


def incremental_minhash_pairs(
    docs: DataFrame,
    threshold: float = 0.2,
    split_num: int = 4,
    split_den: int = 5,
    digits: int = 6,
    bucket_cap: int | None = LSH_BUCKET_CAP,
) -> DataFrame:
    """Incremental near-dup: dedupe a NEW document batch against the
    HISTORICAL corpus without re-pairing the history with itself — the
    nightly-crawl production shape. Emits (doc_id, dup_of, jaccard):
    one row per (new doc × historical near-dup) with true shingle
    Jaccard ≥ threshold. New-new and old-old pairs are deliberately
    out of scope (the former belong to the next full dedup pass; the
    latter were settled when history was indexed).

    Here both sides derive from one table, split at
    ``max(doc_id) * split_num DIV split_den`` (exact integer arithmetic
    both engines; computed in-plan via a broadcast 1-row aggregate, no
    driver action). At 100 TB the historical side is a PERSISTED band
    index (write ``lsh_bands_from_array`` output once, bucketed by
    (band_id, band_hash)): the nightly job computes signatures for the
    new batch only — a narrow map over the increment — and the lookup
    is an equi-join of the (small) new-batch bands against the index,
    broadcast from the new side, so the historical index is never
    shuffled, only scanned. Verification then touches only colliding
    pairs. Cost per night ∝ |increment| + |collisions|, not |corpus|.
    """
    bands = lsh_bands_from_array(minhash_signature_array(docs))
    boundary = docs.agg(
        F.expr(f"CAST(MAX(doc_id) * {split_num} DIV {split_den} AS BIGINT)").alias(
            "split_id"
        )
    )
    # materialize once: the new/old branches would otherwise each
    # recompute the full signature scan (same multi-consumer barrier
    # as jaccard_pairs' shingle sets)
    flagged = bands.crossJoin(F.broadcast(boundary)).transform(narrow_barrier)
    new_bands = flagged.filter(F.col("doc_id") >= F.col("split_id")).select(
        "doc_id", "band_id", "band_hash"
    )
    old_bands = flagged.filter(F.col("doc_id") < F.col("split_id")).select(
        "doc_id", "band_id", "band_hash"
    )
    return _cross_band_pairs(
        docs, new_bands, old_bands, threshold, digits, bucket_cap
    )


def _cross_band_pairs(
    docs_all: DataFrame,
    new_bands: DataFrame,
    old_bands: DataFrame,
    threshold: float,
    digits: int,
    bucket_cap: int | None,
) -> DataFrame:
    """Shared new-vs-history core of :func:`incremental_minhash_pairs`
    and :func:`cross_snapshot_minhash_pairs`: hot-bucket star guard on
    the historical band index, broadcast of the (small) new-batch
    bands onto it, Jaccard verification of colliding pairs only.
    ``docs_all`` must contain every doc_id either band side references
    (verification reads texts from it)."""
    if bucket_cap is not None:
        # same hot-bucket star guard as candidate_pairs, applied to the
        # HISTORICAL side: a boilerplate bucket with N old members would
        # otherwise emit |new_in_bucket|·N probe rows; capping the old
        # side to its min-doc_id representative bounds that to
        # |new_in_bucket| while each colliding new doc still gets its
        # dup_of verdict (members of a genuinely-hot bucket all verify
        # against the representative). Mirrored in the SQL twin.
        old_stats = old_bands.groupBy("band_id", "band_hash").agg(
            F.count(F.lit(1)).alias("__n"),
            F.min("doc_id").alias("__rep"),
        )
        old_bands = (
            old_bands.join(old_stats, ["band_id", "band_hash"])
            .filter(
                (F.col("__n") <= F.lit(int(bucket_cap)))
                | (F.col("doc_id") == F.col("__rep"))
            )
            .select("doc_id", "band_id", "band_hash")
        )
    cand = (
        F.broadcast(new_bands.alias("n"))
        .join(
            old_bands.alias("o"),
            (F.col("n.band_id") == F.col("o.band_id"))
            & (F.col("n.band_hash") == F.col("o.band_hash")),
        )
        .select(
            F.col("o.doc_id").alias("doc_a"), F.col("n.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # jaccard_pairs itself prunes the set build to colliding docs, so
    # verification costs ∝ |collisions|, never ∝ |corpus|
    verified = jaccard_pairs(docs_all, cand, threshold, digits)
    return verified.select(
        F.col("doc_b").alias("doc_id"),
        F.col("doc_a").alias("dup_of"),
        "jaccard",
    )


def cross_snapshot_minhash_pairs(
    new_docs: DataFrame,
    old_docs: DataFrame,
    threshold: float = 0.2,
    digits: int = 6,
    bucket_cap: int | None = LSH_BUCKET_CAP,
) -> DataFrame:
    """:func:`incremental_minhash_pairs` with the two sides given as
    SEPARATE DataFrames — the versioned-table-log production shape:
    ``new_docs`` is a snapshot increment (``read_version_delta`` of
    commit N, i.e. last night's crawl, extracted from the manifest
    diff with zero data scanned), ``old_docs`` the previous snapshot
    (``read_version`` N−1). Emits (doc_id, dup_of, jaccard) for
    new×history near-dups only, exactly like the split-based variant —
    the two share :func:`_cross_band_pairs`, so the hot-bucket guard
    and broadcast-onto-index plan cannot drift between them. doc_ids
    must be unique across the union of both sides (true for any
    append-only log whose writer assigns monotone ids)."""
    new_bands = lsh_bands_from_array(minhash_signature_array(new_docs)).select(
        "doc_id", "band_id", "band_hash"
    )
    old_bands = lsh_bands_from_array(minhash_signature_array(old_docs)).select(
        "doc_id", "band_id", "band_hash"
    )
    cols = [c for c in ("doc_id", "text") if c in new_docs.columns]
    docs_all = old_docs.select(*cols).unionByName(new_docs.select(*cols))
    return _cross_band_pairs(
        docs_all, new_bands, old_bands, threshold, digits, bucket_cap
    )


def semantic_dedup_pairs(
    emb: DataFrame,
    centers: list[tuple[int, list[float]]],
    threshold: float = 0.4,
    digits: int = 6,
    row_cap: int = EMBED_BLOCK_ROW_CAP,
) -> DataFrame:
    """SemDeDup (Abbas et al., 2023, arXiv:2303.09540): semantic
    near-dup pairs via k-means-cell blocking — assign every embedding
    to its nearest coarse centroid, then run exact cosine only WITHIN
    each cell. The clustering shards the O(N²) pair space into
    O(Σ|cell|²) independent blocks; cross-cell near-dups are the
    method's accepted miss (the paper's recall/cost dial is K).

    Assignment is the n-D engine's own operator
    (:func:`kmeans_nd.assign_nd`: one Arrow argmin pass, centers in the
    task closure, no join, no shuffle); intra-cell pairing reuses the
    tiled-GEMM machinery of :func:`embedding_near_dup`, so one hot cell
    becomes m(m+1)/2 bounded tasks instead of a straggler. ``centers`` is a driver-held
    K-row list — at 100 TB it comes from a k-means‖ fit (O11); here
    the caller pins it to fixed corpus rows so the DuckDB twin can
    replay the assignment exactly.
    """
    assigned = assign_cells(emb, centers, out="label")
    return embedding_near_dup(assigned, threshold, digits, row_cap)


# ---------------------------------------------------------------------------
# Span-level (C4-style) dedup with text reassembly
# ---------------------------------------------------------------------------

SPAN_WORDS = 10  # fixed word-window width for span dedup


def span_rows(docs: DataFrame, span_words: int = SPAN_WORDS) -> DataFrame:
    """(doc_id, pos, span) rows: consecutive non-overlapping
    ``span_words``-word windows per document — THE span definition,
    shared by batch :func:`span_dedup` and the streaming
    ``stream_span_first_seen`` twin so their keep-first contracts can
    never drift. Works unchanged on a streaming DataFrame (stateless
    projection + generator).

    The token array is staged through a projection: referenced twice
    (size + the span lambda) and non-cheap, so CollapseProject keeps
    it materialized once — inlining the split would re-run it per
    span under interpreted HOFs (the measured 8x trap, see shingles).
    """
    staged = docs.select(
        "doc_id", tokens(F.coalesce(F.col("text"), F.lit(""))).alias("__w")
    )
    w = F.col("__w")
    n_spans = F.ceil(F.size(w) / F.lit(span_words)).cast("int")
    return staged.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_spans - 1),
                lambda i: F.concat_ws(
                    " ", F.slice(w, i * span_words + 1, span_words)
                ),
            )
        ).alias("pos", "span"),
    )


def span_dedup(docs: DataFrame, span_words: int = SPAN_WORDS) -> DataFrame:
    """C4-style span-level deduplication WITH text reassembly: segment
    every document into consecutive ``span_words``-word spans, drop
    every span occurrence except its globally-first one (lowest
    (doc_id, position)), and rebuild the cleaned text. This is the
    *acting* counterpart of :func:`duplicated_span_stats` — that one
    measures span duplication, this one removes it, the "three-sentence
    span" rule of C4 (Raffel et al., 2020) / the exact-substring pass
    of Lee et al. 2022 at fixed word-window granularity. Nothing like
    it exists in the reference (north-star surface, SURVEY §2.2).

    Keep-first is the standard policy: the corpus keeps exactly one
    copy of every distinct span, so no content is lost entirely, and
    which copy survives is deterministic (no RNG, retry-stable).
    Within-document repeats are deduped by the same rule.

    Scale shape: NO self-join, nothing quadratic — posexplode of
    non-overlapping spans (O(total words) rows, ~1/span_words the
    shingle explode), ONE shuffle keyed by the span fingerprint for
    the keep-first window (skew bounded by the hottest span's global
    frequency; AQE skew-split applies), then a per-doc re-aggregate.
    The window keys on the span text itself (exact, collision-free;
    at extreme scale key on ``h64(span)`` to shrink comparator cost at
    a 2^-60 collision risk), and the rebuilt text concatenates kept
    spans in original order via a sorted struct collect — no global
    sort, no driver loop.

    Output: (doc_id, n_spans, n_removed, cleaned_text).
    """
    spans = span_rows(docs, span_words)
    from pyspark.sql.window import Window

    rn = F.row_number().over(
        Window.partitionBy("span").orderBy("doc_id", "pos")
    )
    ranked = spans.withColumn("rn", rn)
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum((F.col("rn") > 1).cast("long")).alias("n_removed"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("rn") == 1,
                                F.struct(
                                    F.col("pos").alias("pos"),
                                    F.col("span").alias("span"),
                                ),
                            )
                        )
                    ),
                    lambda s: s.getField("span"),
                ),
            ).alias("cleaned_text"),
        )
    )


# ---------------------------------------------------------------------------
# Exact repeated-substring dedup (Lee et al. 2022, ExactSubstr)
# ---------------------------------------------------------------------------

SUBSTR_MIN_TOKENS = 15  # minimum duplicated-substring length, in tokens


def _substring_staged_covered(
    docs: DataFrame, min_tokens: int, key_by_text: bool
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared internals of the ExactSubstr pass: returns

    - ``staged``  — (doc_id, __w tokens array),
    - ``dup``     — one row per rank>1 duplicated-window OCCURRENCE
      (doc_id, pos), i.e. the population whose processing cost the
      pass pays beyond scanning, and
    - ``covered`` — distinct (doc_id, idx) token positions those
      occurrences cut.

    Split out so :func:`substring_dedup_stats` can report the dup /
    covered counts from the IDENTICAL plan the operator executes —
    the scale probe records them per replication factor to
    distinguish output-bound wall growth from plan regressions.
    """
    from pyspark.sql.window import Window

    from ..functions.hashing import h64

    L = int(min_tokens)
    if L < 2:
        raise ValueError(f"substring_dedup: min_tokens must be >= 2 (got {L})")
    staged = docs.select(
        "doc_id", tokens(F.coalesce(F.col("text"), F.lit(""))).alias("__w")
    )
    w = F.col("__w")
    # stride-1 window starts: 0 .. n-L (none when the doc is shorter
    # than L tokens — sequence() would wrap, so gate on size)
    wins = staged.select(
        "doc_id",
        F.posexplode(
            F.when(
                F.size(w) >= L,
                F.transform(
                    F.sequence(F.lit(0), F.size(w) - L),
                    lambda i: F.concat_ws(" ", F.slice(w, i + 1, L)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pos", "win"),
    )
    # project the shuffle key BEFORE the window exchange: 8-byte hash
    # by default (text only for the A/B verification path)
    wkey = F.col("win") if key_by_text else h64(F.col("win"))
    wins = wins.select("doc_id", "pos", wkey.alias("__wk"))
    rn = F.row_number().over(
        Window.partitionBy("__wk").orderBy("doc_id", "pos")
    )
    dup = wins.withColumn("rn", rn).filter(F.col("rn") > 1).select(
        "doc_id", "pos"
    )
    # every token position under a rank>1 duplicated window is cut
    covered = dup.select(
        "doc_id",
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + F.lit(L - 1))
        ).alias("idx"),
    ).distinct()
    return staged, dup, covered


def substring_dedup_stats(
    docs: DataFrame,
    min_tokens: int = SUBSTR_MIN_TOKENS,
    key_by_text: bool = False,
) -> DataFrame:
    """Output accounting for :func:`substring_dedup` — one row:
    (n_dup_windows, n_covered_positions). ``n_dup_windows`` counts
    rank>1 duplicated-window occurrences (the rows the covered-explode
    pays for); ``n_covered_positions`` counts the distinct token
    positions cut (the anti-join's right side). Used by
    tools/scale_probe.py to adjudicate wall-clock slopes: the probe's
    replica construction makes BOTH grow ~(factor−1)×base-windows while
    input only grows factor×, so a superlinear wall is expected to be
    output-bound — these counts prove or refute that per run."""
    _staged, dup, covered = _substring_staged_covered(
        docs, min_tokens, key_by_text
    )
    return dup.agg(
        F.count(F.lit(1)).alias("n_dup_windows")
    ).crossJoin(
        covered.agg(F.count(F.lit(1)).alias("n_covered_positions"))
    )


def substring_dedup(
    docs: DataFrame,
    min_tokens: int = SUBSTR_MIN_TOKENS,
    key_by_text: bool = False,
) -> DataFrame:
    """Exact repeated-substring removal — the ExactSubstr pass of Lee
    et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better"): every substring of ≥ ``min_tokens`` tokens that occurs
    more than once in the corpus keeps exactly its globally-first
    occurrence; all other occurrences are cut out of their documents
    and the surrounding text reassembled.

    The paper builds one corpus-wide suffix array; that is a single
    sequential data structure and does not shard. The distributed
    equivalent used here is stride-1 window marking, which detects the
    SAME substrings: a duplicated substring S of length m ≥ L contains
    m−L+1 overlapping L-token windows, and every one of them is
    duplicated wherever S repeats, so each non-first occurrence of S
    has all m of its token positions covered by duplicated windows
    whose rank > 1. The corpus-wide invariant is that every duplicated
    window retains exactly its globally-first copy; the first
    occurrence of S is left fully intact when none of its windows
    appear earlier elsewhere (if, say, S's prefix is itself duplicated
    from an earlier document, tokens of that prefix are cut there
    too — identically in the oracle replay). Unlike
    :func:`span_dedup`'s fixed non-overlapping windows, stride-1
    windows catch repeats at ANY alignment and remove maximal runs,
    not window-quantized ones.

    Scale shape: windows are a narrow per-doc expression (no
    self-join); the only O(corpus) shuffles are the keep-first window
    exchange and the token-level anti-join keyed by (doc_id, idx).
    The keep-first exchange is keyed by ``h64(window)`` — the 60-bit
    hash, 8 bytes per window instead of ~L tokens of text (~1/L the
    shuffle bytes at corpus scale, 2^-60 collision odds); the DuckDB
    twin replays the identical hash. ``key_by_text=True`` keeps the
    collision-free text key for A/B verification (tests assert the
    two keys produce identical output). Covered-position explode is
    proportional to *duplicated* occurrences only, not the corpus.
    Skew = the hottest duplicated window's global frequency — the
    same boilerplate population the minhash path caps, and AQE
    skew-split applies.

    Output: (doc_id, n_tokens, n_removed, cleaned_text), one row per
    input document (documents that are entirely duplicated text come
    back with ``cleaned_text = ''``, never silently dropped).
    """
    staged, _dup, covered = _substring_staged_covered(docs, min_tokens, key_by_text)
    w = F.col("__w")
    toks = staged.select(
        "doc_id", F.posexplode(w).alias("idx", "tok")
    )
    kept = toks.join(covered, ["doc_id", "idx"], "left_anti")
    per_doc = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("idx").alias("idx"), F.col("tok").alias("tok"))
                    )
                ),
                lambda s: s.getField("tok"),
            ),
        ).alias("cleaned_text"),
    )
    totals = staged.select("doc_id", F.size(w).cast("long").alias("n_tokens"))
    return totals.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0))).alias(
            "n_removed"
        ),
        F.coalesce(F.col("cleaned_text"), F.lit("")).alias("cleaned_text"),
    )


def url_dedup(df: DataFrame, url_col: str = "url", id_col: str = "doc_id") -> DataFrame:
    """URL-level dedup — the curation front door that runs BEFORE any
    content dedup: canonicalize each raw URL
    (:func:`~kmeans_mapreduce_spark.functions.urls.canonical_url` —
    case, ``www.``, default ports, tracking params, param order,
    trailing slashes, fragments), then rank duplicates per canonical
    key and count documents per host (the input ``corpus_source_cap``
    -style per-origin capping wants).

    Scale shape: canonicalization is a zero-shuffle codegen
    projection; ``url_rank`` shuffles on the canonical key, whose
    groups are bounded by the handful of spelling variants a page has
    — never skewed. ``host_docs`` deliberately does NOT use a window
    (a hot host — one domain owning 10% of a crawl — would pin its
    whole partition in one task): it is a partial-aggregated
    ``groupBy(host).count()`` joined back on host, the shape AQE's
    skew-join splitting can handle at 100 TB.

    Output per input row: (id, canon_url, host, url_rank, host_docs);
    ``url_rank = 1`` marks the kept representative (min id). NULL
    urls (and hence NULL canon/host) are KEPT and counted as their
    own host group — the join is null-safe, matching the window
    formulation ``COUNT(*) OVER (PARTITION BY host)`` that groups
    NULLs together, so output row count always equals input row count
    (round-12 advisor finding: a plain equi-join silently dropped
    NULL-url rows)."""
    from pyspark.sql.window import Window

    from kmeans_mapreduce_spark.functions.urls import canonical_url, url_host

    canon = df.select(
        id_col, canonical_url(F.col(url_col)).alias("canon_url")
    ).withColumn("host", url_host(F.col("canon_url")))
    ranked = canon.withColumn(
        "url_rank",
        F.row_number()
        .over(Window.partitionBy("canon_url").orderBy(id_col))
        .cast("long"),
    )
    host_counts = canon.groupBy("host").agg(
        F.count(F.lit(1)).alias("host_docs")
    )
    # eqNullSafe (<=>) keeps NULL-host rows and still hash-joins
    return ranked.join(
        host_counts.withColumnRenamed("host", "_hc_host"),
        ranked["host"].eqNullSafe(F.col("_hc_host")),
    ).select(id_col, "canon_url", "host", "url_rank", "host_docs")


BLOOM_PREFILTER_WORDS = 256  # 15,872 bits: deliberately modest so the
# sf0.1 history (~4k distinct fps) produces REAL false positives and
# the verify-join path is exercised, while sf0.001 stays near-exact


def bloom_prefilter_dedup(
    docs: DataFrame, split_mod: int = 5, words: int = BLOOM_PREFILTER_WORDS
) -> DataFrame:
    """Bloom-PREFILTERED incremental dedup — the 100 TB accelerator in
    front of :func:`incremental` joins: the nightly increment
    (``doc_id % split_mod == 0``) is membership-tested against a
    KB-scale bloom bitmap of the historical content fingerprints
    BEFORE any join, so the exact verify join only sees bloom hits
    (at production sizing ~1% of a mostly-novel increment) and the
    history is never shuffled against the full increment.

    Built from the PORTABLE (md5) bloom machinery
    (operators/sketches.py): registers collapse to ≤``words`` rows via
    map-side combined bit_or — constant exchange however large the
    history — then ride a broadcast 1-row bitmap onto a narrow probe
    filter. Output per increment doc: (doc_id, fp, bloom_hit, is_dup,
    false_positive). Bloom guarantees NO FALSE NEGATIVES, and the gate
    VERIFIES that cross-engine: this side computes ``is_dup`` only for
    bloom hits (the cheap path — a miss is definitionally novel),
    while the DuckDB twin computes it with an unconditional exact
    join; a false negative would make the two disagree and fail the
    hash. ``false_positive`` rows are the ones the verify join
    rescued — real at sf0.1 by deliberate undersizing (see
    BLOOM_PREFILTER_WORDS)."""
    from kmeans_mapreduce_spark.operators import sketches as sk

    hist = docs.filter(F.col("doc_id") % split_mod != 0)
    inc = docs.filter(F.col("doc_id") % split_mod == 0)
    # materialized once: the distinct fingerprints feed BOTH the
    # bitmap build (collected here) and the verify join below —
    # without the barrier the full history scan+distinct ran twice
    hfp = (
        hist.select(content_fp(F.col("text")).alias("fp"))
        .distinct()
        .transform(narrow_barrier)
    )
    bitmap = sk.bloom_filter_words(
        sk.bloom_registers(hfp, "fp", words, native=False), words
    )
    bitmap_df = docs.sparkSession.createDataFrame(
        [([int(w) for w in bitmap],)], "_bloom array<bigint>"
    )
    probe = inc.select("doc_id", content_fp(F.col("text")).alias("fp"))
    flagged = (
        probe.crossJoin(F.broadcast(bitmap_df))
        .withColumn(
            "bloom_hit",
            sk._bloom_cond(
                F.col("fp").cast("string"), F.col("_bloom"), words, False
            ),
        )
        .drop("_bloom")
    )
    dup_ids = (
        flagged.filter(F.col("bloom_hit"))
        .join(hfp, "fp", "left_semi")
        .select("doc_id", F.lit(True).alias("is_dup"))
    )
    return (
        flagged.join(dup_ids, "doc_id", "left")
        .select(
            "doc_id",
            "fp",
            "bloom_hit",
            F.coalesce(F.col("is_dup"), F.lit(False)).alias("is_dup"),
        )
        .withColumn(
            "false_positive", F.col("bloom_hit") & ~F.col("is_dup")
        )
    )


BOILER_MIN_DF = 5  # a line occurring in ≥ this many distinct docs is
# boilerplate (CCNet drops lines above an absolute df; RefinedWeb uses
# relative — absolute keeps the rule scale-pinnable cross-engine)


def line_boilerplate_dedup(
    docs: DataFrame,
    lines_col: str = "lines",
    id_col: str = "doc_id",
    min_df: int = BOILER_MIN_DF,
) -> DataFrame:
    """LINE-level boilerplate removal (CCNet §3.1 / RefinedWeb line-wise
    filtering): drop every line that occurs in ≥ ``min_df`` distinct
    documents corpus-wide — navigation menus, footers, cookie banners —
    and reassemble each document from its surviving lines in order.
    This is the curation pass between URL dedup and document-level
    dedup: boilerplate inflates document similarity and survives exact
    dedup because the surrounding content differs.

    Input: (id, lines ARRAY<STRING>). Output per input doc: (id,
    n_lines, n_boiler, cleaned_fp) where cleaned_fp is the 60-bit
    content fingerprint of the newline-joined surviving lines (ready
    for the exact-dedup pass that follows in a real pipeline; '' when
    everything was boilerplate).

    Scale shape: one posexplode (narrow); line document-frequency via
    a distinct-(doc, line-fp) + map-side-combined count — the shuffle
    carries distinct (doc, line) pairs, never raw occurrences; the
    boilerplate SET (df ≥ min_df) is tiny by definition (boilerplate
    means 'repeated across the corpus', so its distinct count is
    corpus-sublinear) and rides a broadcast LEFT join back onto the
    exploded lines; reassembly is one doc-keyed aggregate (struct
    collect sorted by position, the span_dedup pattern). Two
    corpus-keyed exchanges total, both partial-combined; a hot
    boilerplate line never skews anything — it is counted map-side
    and joined broadcast."""
    lfp = h64(F.col("line")).alias("lfp")
    # materialized ONCE: the exploded line relation feeds BOTH the
    # df-count branch and the mark join — without the barrier each
    # consumer re-runs the scan + synth + explode (the
    # shingle_fingerprints / frontdoor multi-consumer lesson; on a
    # cluster, persist or write the line table instead)
    exploded = (
        docs.select(id_col, F.posexplode(lines_col).alias("idx", "line"))
        .select(id_col, "idx", "line", lfp)
        .transform(narrow_barrier)
    )
    boiler = (
        exploded.select(id_col, "lfp")
        .distinct()
        .groupBy("lfp")
        .agg(F.count(F.lit(1)).alias("line_df"))
        .filter(F.col("line_df") >= min_df)
        .select("lfp", F.lit(True).alias("is_boiler"))
    )
    marked = exploded.join(F.broadcast(boiler), "lfp", "left").select(
        id_col,
        "idx",
        "line",
        F.coalesce(F.col("is_boiler"), F.lit(False)).alias("is_boiler"),
    )
    kept_struct = F.when(
        ~F.col("is_boiler"), F.struct("idx", "line")
    )
    return (
        marked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("is_boiler").cast("long")).alias("n_boiler"),
            F.array_join(
                F.transform(
                    # collect_list drops the NULL (boilerplate) structs
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("cleaned"),
        )
        .select(
            id_col,
            "n_lines",
            "n_boiler",
            content_fp(F.col("cleaned")).alias("cleaned_fp"),
        )
    )
