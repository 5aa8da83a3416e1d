"""Deduplication operator family for training-data pipelines.

The reference's dedup is the whole repo; these are the *document-level*
specializations a 100 TB text pipeline needs, each as a standalone
DataFrame operator (and a ``queries()`` entry in __spark_entry__):

- exact:        hash-groupBy on the payload (P5, init_postgres_db.py:110-113)
- n-gram Jaccard: *equi-join* formulation — explode distinct shingles,
  self-join on shingle, count shared, Jaccard from per-doc gram counts.
  No cross join anywhere, so it scales exactly like the blocking
  self-join (and shares its skew story: common shingles are stop-worded
  by a document-frequency cap, canopy_index.py:20-38 analog).
- MinHash+LSH:  banded signature join -> candidate pairs with estimated
  Jaccard = fraction of agreeing signature positions
- SimHash:      banded simhash join + exact Hamming filter
- edit distance: deletion-variant join + exact Levenshtein filter
- embedding cosine: see operators/ann.py (shared kernel)

The three banded operators share one kernel, pairs.banded_pairs (explode
keys -> pairs.candidate_pairs -> hydrate both sides -> measure). MinHash
and SimHash take ``family="fast"|"portable"``: xxhash64 + Arrow for the
bench/scale path, md5 Catalyst expressions that the DuckDB oracle
recomputes for the correctness gate.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ..functions import hashing, keygen, portable
from . import pairs


def _tag_persisted(out: DataFrame, *deps: DataFrame) -> DataFrame:
    """The persist() calls in this module are load-bearing (the tagged
    subtree feeds 3-4 consumers in one job) but the cache escapes to the
    caller: a long-lived session running many queries accumulates
    storage. Results carry their persisted dependencies so callers that
    materialize-and-discard in a loop (bench, the driver's correctness
    sweep) can ``release()`` them."""
    existing = list(getattr(out, "_persisted_deps", []) or [])
    out._persisted_deps = existing + list(deps)
    return out


def release(df: DataFrame) -> None:
    """Unpersist cached subtrees attached by operators in this module.
    Safe on any DataFrame (no-op when nothing is tagged); call after the
    result is materialized."""
    for d in getattr(df, "_persisted_deps", []) or []:
        d.unpersist()
    if hasattr(df, "_persisted_deps"):
        df._persisted_deps = []


def payload_key(payload: Column) -> Column:
    """sha2 content key with the NULL-marker convention: a NULL payload
    gets a marker key that cannot collide with hex sha2 output, so NULL
    payloads group together (SQL GROUP BY null semantics) and survive
    equi-joins instead of silently vanishing (sha2(NULL) is NULL, and a
    NULL key never matches)."""
    c = payload.cast("string")
    return F.when(c.isNull(), F.lit("__NULL_PAYLOAD__")).otherwise(
        F.sha2(c, 256)
    )


def exact_duplicates(df: DataFrame, id_col: str, payload: str) -> DataFrame:
    """(record_id, cluster_id, cluster_size): cluster_id = min id among
    byte-identical payloads (NULL payloads form one group, see
    :func:`payload_key`).

    Scale shape: aggregate only (min, count) per payload hash, then join
    the (record_id, hash) projection back to the aggregate — the J2
    hydration pattern. No per-group member array: a degenerate cluster
    (empty/boilerplate pages, hundreds of millions of members at
    Common-Crawl scale) costs one counter in the agg and streams through
    the join; the old ``collect_list`` materialized it in one task.

    The (record_id, hash) projection is not persisted: the agg and the
    join probe each re-hash the payload column, which measured cheaper
    than a cache's materialization barrier at every fixture size.
    """
    keyed = df.select(
        F.col(id_col).alias("record_id"),
        payload_key(F.col(payload)).alias("k"),
    )
    agg = keyed.groupBy("k").agg(
        F.min("record_id").alias("cluster_id"),
        F.count("*").alias("cluster_size"),
    )
    return keyed.join(agg, "k").select(
        "record_id", "cluster_id", "cluster_size"
    )


#: Absolute ceiling on the canopy stop-word cap. The reference's rule
#: max(1000, 0.05*N) (canopy_index.py:22) grows without bound: at web
#: scale (N=1e11) 5% is 5e9 docs per shingle and the shingle self-join's
#: sum(df^2) term is effectively quadratic — one boilerplate shingle in
#: 4.9% of the corpus would emit ~2.4e19 candidate pairs. The ceiling
#: keeps the worst shingle's contribution at O(N * ABS_DF_CAP) total
#: pairs regardless of corpus size. 5000 keeps the rule byte-identical
#: to the reference for N <= 100k (covers every fixture here and most of
#: the reference's runs; its largest, 483k donors, would have used
#: 24,150 — lowering that to 5000 is a DELIBERATE scale-safety
#: deviation, documented, not an equivalence).
ABS_DF_CAP = 5000


def default_df_cap(n_docs: int, abs_cap: int = ABS_DF_CAP) -> int:
    """The canopy stop-word rule (canopy_index.py:22) with a scale guard:
    a shingle occurring in more than max(1000, 5% of docs) documents is
    boilerplate, not signal — and its df^2 contribution to the shingle
    self-join is the one unbounded term in the plan. Computed as
    ``min(max(1000, 0.05*N), abs_cap)`` — note the ceiling caps the
    WHOLE reference expression, so an ``abs_cap`` below 1000 also lowers
    the floor (the planted-boilerplate tests exploit this). Always pass
    a cap at scale."""
    return min(max(1000, int(0.05 * n_docs)), abs_cap)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    df_cap: int | None = None,
) -> DataFrame:
    """Exact word-n-gram Jaccard >= threshold pairs via shingle equi-join.

    Output: (src, dst, jaccard), src < dst. The join key is the shingle,
    so cost is sum over shingles of df(shingle)^2 — bounded by ``df_cap``
    (drop shingles appearing in more than df_cap docs; stop-word rule).

    ``id_col`` must be unique per input row (a record id): per-doc gram
    dedup then happens MAP-SIDE (array_distinct before the explode), so
    the postings table is distinct by construction — the naive
    explode-then-DISTINCT shape shuffles the entire postings table once
    (hundreds of billions of rows at corpus scale) before any real work.
    """
    grams = df.select(
        F.col(id_col).alias("record_id"),
        F.explode(F.array_distinct(keygen.word_ngrams(F.col(text_col), n))).alias(
            "gram"
        ),
    )
    return _postings_jaccard_pairs(grams, threshold, df_cap)


def _postings_jaccard_pairs(
    postings: DataFrame, threshold: float, df_cap: int | None
) -> DataFrame:
    """Shared tail of ngram_jaccard_pairs / winnow_jaccard_pairs:
    distinct (record_id, gram) postings -> (src, dst, jaccard >=
    threshold) via the df-capped gram equi-join. Cost is sum over kept
    grams of df(gram)^2 — ``df_cap`` (the canopy stop-word rule +
    ABS_DF_CAP ceiling) is the bound that keeps it linear-ish at scale.

    Callers guarantee (record_id, gram) is distinct — both producers
    dedup grams map-side within each record (array_distinct / np.unique)
    and record ids are unique, so no shuffle-the-world DISTINCT here."""
    # reused by df-profile (cap), per-doc counts, and BOTH join sides:
    # without a persist the postings subtree evaluates 3-4x.
    postings = postings.persist()
    _cached = postings
    if df_cap is not None:
        hot = (
            postings.groupBy("gram").count().where(F.col("count") > df_cap)
            .select("gram")
        )
        postings = postings.join(F.broadcast(hot), "gram", "left_anti")
    counts = postings.groupBy("record_id").agg(F.count("*").alias("ng"))
    g1 = postings.alias("a")
    g2 = postings.alias("b")
    shared = (
        g1.join(g2, "gram")
        .where(F.col("a.record_id") < F.col("b.record_id"))
        .groupBy(
            F.col("a.record_id").alias("src"), F.col("b.record_id").alias("dst")
        )
        .agg(F.count("*").alias("shared"))
    )
    out = (
        shared.join(counts.select(F.col("record_id").alias("src"), F.col("ng").alias("na")), "src")
        .join(counts.select(F.col("record_id").alias("dst"), F.col("ng").alias("nb")), "dst")
        .withColumn(
            "jaccard",
            F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("src", "dst", "jaccard")
    )
    return _tag_persisted(out, _cached)


def winnow_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 16,
    w: int = 8,
    threshold: float = 0.5,
    df_cap: int | None = None,
    family: str = "fast",
) -> DataFrame:
    """Near-dup pairs by Jaccard over winnowing fingerprint sets
    (textstats.winnow_fingerprints — Schleimer et al., SIGMOD 2003).

    Same contract and plan shape as ngram_jaccard_pairs, but the join
    key is a selected rolling-hash fingerprint instead of every word
    n-gram: expected 2/(w+1) fingerprints per character position, so the
    postings table is ~(w+1)/2 x smaller than char-gram postings at the
    same k — the paper's point — while any shared substring of length
    >= w + k - 1 still lands both docs in one bucket. Output
    (src, dst, jaccard), src < dst, jaccard over the fingerprint SETS
    (a near-dup ranking signal, not text Jaccard).

    ``id_col`` must be unique per input row. Every winnow family emits a
    per-row-distinct fingerprint array (np.unique / array_distinct), so
    postings are distinct by construction — no post-explode DISTINCT
    shuffle (see ngram_jaccard_pairs)."""
    from ..functions.textstats import winnow_fingerprints

    postings = df.select(
        F.col(id_col).alias("record_id"),
        F.explode(
            winnow_fingerprints(F.col(text_col), k=k, w=w, family=family)
        ).alias("gram"),
    )
    return _postings_jaccard_pairs(postings, threshold, df_cap)


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_words: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    rows: int = 4,
    est_threshold: float = 0.0,
    family: str = "fast",
) -> DataFrame:
    """Banded-MinHash near-dup candidates with estimated Jaccard.

    est_jaccard = fraction of agreeing signature positions (unbiased
    estimator of true shingle Jaccard). One narrow keygen pass + one
    equi-join on band keys (pairs.banded_pairs) — the LSH replacement
    for the reference's TfidfCanopy index predicates
    (predicates.py:248-305). The portable family has slower constants
    (see PipelineConfig.portable_hashing); its callers run it at 16
    perms / 8x2 banding.
    """
    t, s = F.col("t"), F.col("sig")
    if family == "fast":
        # token-hash-combined shingle ids, no gram strings materialized
        # (hashing.word_ngram_hashes)
        sig_expr = hashing.minhash_signature_udf(num_perm)(
            hashing.word_ngram_hashes(t, shingle_words)
        )
        keys = hashing.minhash_band_keys(s, bands, rows)
    elif family == "portable":
        sig_expr = portable.minhash_sig(keygen.word_ngrams(t, shingle_words), num_perm)
        keys = portable.minhash_band_keys(s, bands, rows)
    else:
        raise ValueError(f"minhash_candidate_pairs: unknown family {family!r}")
    sig = (
        df.select(F.col(id_col).alias("record_id"), F.col(text_col).alias("t"))
        .withColumn("sig", sig_expr)
        .where(F.col("sig").isNotNull())
        .select("record_id", "sig")
        # reused by the band-key explode AND both hydration sides:
        # without a persist the signature subtree evaluates 3x.
        .persist()
    )

    def est(a: Column, b: Column) -> Column:
        agree = F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda m: m)
        return F.size(agree) / F.lit(float(num_perm))

    out = pairs.banded_pairs(sig, keys, est, "est_jaccard")
    return _tag_persisted(out.where(F.col("est_jaccard") >= est_threshold), sig)


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    key_len: int = 12,
    max_dist: int = 1,
) -> DataFrame:
    """All pairs whose ``key_len``-char key prefixes are within
    Levenshtein distance ``max_dist`` (src < dst, with the distance).

    Plan: deletion-neighborhood equi-join (keygen.deletion_variants) for
    candidates — recall is TOTAL at distance 1, so the oracle is the
    plain all-pairs levenshtein predicate — then the exact native
    ``levenshtein`` filter. The scale replacement for the reference's
    LevenshteinCanopy/LevenshteinSearch index predicates."""
    keyed = (
        df.select(
            F.col(id_col).alias("record_id"),
            F.substring(F.col(text_col), 1, key_len).alias("k"),
        )
        .where(F.col("k").isNotNull() & (F.length("k") > 0))
        .persist()  # reused by the variant explode and both hydrations
    )
    out = pairs.banded_pairs(
        keyed,
        keygen.deletion_variants(F.col("k"), key_len),
        F.levenshtein,
        "dist",
    )
    return _tag_persisted(out.where(F.col("dist") <= max_dist), keyed)


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bands: int = 4,
    max_hamming: int = 3,
    family: str = "fast",
) -> DataFrame:
    """Near-dup pairs within Hamming distance over SimHash: 64-bit over
    token shingle hashes (family 'fast') or 32-bit over word-3-gram
    shingles (family 'portable').

    Banded join guarantees recall for distance <= bands-1 (pigeonhole;
    Manku et al. '07); the exact bit_count filter removes band-collision
    false positives, so the result is EXACTLY the set of pairs within
    ``max_hamming`` and the oracle is the all-pairs Hamming predicate —
    banding is a physical detail the check need not mirror. Output
    (src, dst, hamming).

    The portable input is word-3-gram shingles, not unigram tokens:
    unigram simhash is cross-document correlated (every page shares the
    language's top tokens — see hashing.minhash_simhash_udf) and at 32
    bits that correlation floods the pair space; shingles decorrelate.
    """
    t, h = F.col("t"), F.col("simhash")
    if family == "fast":
        sim_expr = hashing.simhash_udf()(hashing.shingle_hashes(keygen.tokens(t)))
        keys = hashing.simhash_band_keys(h, bands)
    elif family == "portable":
        sim_expr = portable.simhash32(keygen.word_ngrams(t, 3))
        keys = portable.simhash_band_keys(h, bands, bits=32)
    else:
        raise ValueError(f"simhash_near_pairs: unknown family {family!r}")
    sh = (
        df.select(F.col(id_col).alias("record_id"), F.col(text_col).alias("t"))
        .withColumn("simhash", sim_expr)
        .where(F.col("simhash").isNotNull())
        .select("record_id", "simhash")
        .persist()  # reused 3x (band explode + both hydration sides)
    )
    out = pairs.banded_pairs(sh, keys, hashing.hamming64, "hamming")
    return _tag_persisted(out.where(F.col("hamming") <= max_hamming), sh)


def segment_text(col: Column, seg_words: int = 10) -> Column:
    """Consecutive non-overlapping ``seg_words``-word windows of a
    whitespace-tokenized text (last window partial) — the corpus'
    "paragraphs" when the payload carries no natural line structure.
    Pure Catalyst (split + sequence + slice), mirrored seg-for-seg by
    the segment_dedup oracle's list-slice CTE.

    The token array is BOUND (keygen._bind) before the window walk:
    higher-order lambdas are interpreted and re-evaluate captured outer
    expressions per element, so an unbound ``split`` would re-tokenize
    the text once per segment — O(tokens x segments) per doc (the
    quality.py bigram lesson). Bound, the split runs once per row."""

    def _segs(words: Column) -> Column:
        n = F.size(words)
        nseg = F.floor((n + seg_words - 1) / seg_words).cast("int")
        return F.when(
            n > 0,
            F.transform(
                F.sequence(F.lit(0), nseg - 1),
                lambda i: F.array_join(
                    F.slice(words, i * seg_words + 1, seg_words), " "
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return keygen._bind(F.split(col, " "), _segs)


def segment_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seg_words: int = 10,
    df_threshold: int = 2,
) -> DataFrame:
    """Cross-document segment (paragraph) deduplication — the CCNet
    preprocessing step (Wenzek et al. 2019, arXiv:1911.00359 §3.1:
    drop duplicated paragraphs corpus-wide before language/quality
    filtering; boilerplate headers/nav/templates dominate web text).
    Removes from every document the segments occurring in MORE than
    ``df_threshold`` documents. Returns (record_id, clean_text, n_seg,
    n_dropped); clean_text preserves surviving segments in order ('' if
    everything was boilerplate).

    Scale shape, fully distributed with no driver bound and no Spark
    job before the caller's action: document frequencies aggregate over
    (xxhash64(seg), record_id) postings — ids+hashes only, never text,
    with map-side array_distinct (a segment repeated inside one doc
    counts once). Then posexplode, broadcast ANTI-join against the
    hot-hash list (no shuffle of the big side), and one
    groupBy(record_id) rebuild (sort_array of (pos, seg) structs). The
    rebuild is the one intrinsic corpus-sized shuffle.
    """
    # persisted: the segmentation projection feeds three plan subtrees
    # (df agg, the exploded anti-join side and all_docs) and Catalyst
    # does no CSE across them — unpersisted, the corpus would be
    # re-tokenized three times per call (caller reclaims via
    # dedup.release, the module's _tag_persisted convention)
    base = df.select(
        F.col(id_col).alias("record_id"),
        segment_text(F.col(text_col), seg_words).alias("segs"),
    ).persist()
    postings = base.select(
        "record_id",
        F.explode(F.array_distinct("segs")).alias("seg"),
    )
    # df over 8-byte hashes, not ~seg_words-word strings: the one
    # corpus-wide agg here shuffles ids+hashes only (the postings
    # pattern). Caveat: two segments with one 64-bit hash share a df
    # count; at 10^12 segments swap in a 128-bit split key.
    hot_h = (
        postings.select(F.xxhash64("seg").alias("h"))
        .groupBy("h")
        .agg(F.count("*").alias("seg_df"))
        .where(F.col("seg_df") > df_threshold)
        .select("h")
    )
    ex = base.select(
        "record_id",
        F.size("segs").alias("n_seg"),
        F.posexplode_outer("segs").alias("pos", "seg"),
    )
    kept = ex.join(
        F.broadcast(hot_h),
        F.xxhash64(ex["seg"]) == F.col("h"),
        "left_anti",
    )
    agg = kept.groupBy("record_id", "n_seg").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("pos", "seg"))
                ),
                lambda s: s["seg"],
            ),
            " ",
        ).alias("clean_text"),
        F.count("seg").alias("_n_kept"),
    )
    # a doc whose every segment was boilerplate vanishes from the anti-
    # join — restore it with clean_text '' (posexplode_outer keeps only
    # docs with a null seg, i.e. empty input arrays)
    all_docs = base.select("record_id", F.size("segs").alias("n_seg"))
    return _tag_persisted(
        all_docs.join(
            agg.select("record_id", "clean_text", "_n_kept"),
            "record_id",
            "left",
        )
        .select(
            "record_id",
            F.coalesce(
                "clean_text", F.lit("")
            ).alias("clean_text"),
            "n_seg",
            (F.col("n_seg") - F.coalesce("_n_kept", F.lit(0)))
            .cast("int")
            .alias("n_dropped"),
        ),
        base,
    )


def decontaminate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    benchmark: DataFrame,
    bench_text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination (the GPT-3 appendix-C / training-data
    hygiene step): DROP every training document sharing at least one
    ``n``-word gram with an evaluation benchmark, so eval scores measure
    generalization rather than memorized test rows. Returns the
    SURVIVING rows of ``df`` (all original columns).

    Scale shape: benchmark gram hashes are tiny relative to the corpus
    (benchmarks are fixed-size; the corpus is 10^12 docs) and broadcast;
    the corpus side explodes to (id, gram-hash) — 16 bytes/row, never
    text — and the semi-join against the broadcast build side does NOT
    shuffle it. The final anti-join keys on contaminated ids (usually a
    small fraction; AQE broadcasts it when it fits, and a shuffled anti
    join is still linear when it does not)."""
    bench_grams = (
        benchmark.select(
            F.explode(
                keygen.word_ngrams(F.col(bench_text_col), n)
            ).alias("g")
        )
        .select(F.xxhash64("g").alias("gh"))
        .distinct()
    )
    doc_grams = df.select(
        F.col(id_col).alias("_cid"),
        F.explode(keygen.word_ngrams(F.col(text_col), n)).alias("g"),
    ).select("_cid", F.xxhash64("g").alias("gh"))
    contaminated = (
        doc_grams.join(F.broadcast(bench_grams), "gh", "left_semi")
        .select("_cid")
        .distinct()
    )
    return df.join(
        contaminated.withColumnRenamed("_cid", id_col), id_col, "left_anti"
    )


def contamination_overlap(
    df: DataFrame,
    id_col: str,
    text_col: str,
    benchmark: DataFrame,
    bench_text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Per-document benchmark-overlap RATIO — the graded companion to
    :func:`decontaminate`'s any-gram rule (the PaLM/Llama-2-style
    "fraction of the document's n-grams seen in the eval set" metric:
    one shared boilerplate gram should not nuke a 10k-word page, but a
    page that is 60% benchmark text must go). Returns one row per input
    document: (record_id, n_grams, n_hit, overlap) where ``n_grams`` is
    the count of DISTINCT n-word grams in the doc (word_ngrams is
    distinct-per-doc by construction), ``n_hit`` how many of those also
    occur anywhere in ``benchmark``, and ``overlap = n_hit / n_grams``
    (0.0 for docs too short to form a gram).

    Scale shape: identical to :func:`decontaminate` — the benchmark gram
    hashes are tiny (eval suites are fixed-size vs a 10^12-doc corpus)
    and broadcast; the corpus side carries (id, 8-byte gram hash) only,
    never text; the left join against the broadcast build side does not
    shuffle it; the single groupBy(id) agg has map-side combine. Docs
    with zero grams re-enter via one left join from the ids projection
    (AQE broadcasts the stats side when the corpus is mostly short)."""
    bench_grams = (
        benchmark.select(
            F.explode(
                keygen.word_ngrams(F.col(bench_text_col), n)
            ).alias("g")
        )
        .select(F.xxhash64("g").alias("gh"))
        .distinct()
        .withColumn("_hit", F.lit(1).cast("bigint"))
    )
    doc_grams = df.select(
        F.col(id_col).alias("record_id"),
        F.explode(keygen.word_ngrams(F.col(text_col), n)).alias("g"),
    ).select("record_id", F.xxhash64("g").alias("gh"))
    stats = (
        doc_grams.join(F.broadcast(bench_grams), "gh", "left")
        .groupBy("record_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.coalesce(F.sum("_hit"), F.lit(0)).alias("n_hit"),
        )
    )
    return (
        df.select(F.col(id_col).alias("record_id"))
        .join(stats, "record_id", "left")
        .select(
            "record_id",
            F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce("n_hit", F.lit(0)).cast("bigint").alias("n_hit"),
            F.when(
                F.coalesce("n_grams", F.lit(0)) > 0,
                F.col("n_hit").cast("double") / F.col("n_grams"),
            )
            .otherwise(F.lit(0.0))
            .alias("overlap"),
        )
    )


def decontaminate_fuzzy(
    df: DataFrame,
    id_col: str,
    text_col: str,
    benchmark: DataFrame,
    bench_text_col: str = "text",
    n: int = 8,
    max_overlap: float = 0.5,
) -> DataFrame:
    """Overlap-ratio benchmark decontamination: drop every document
    whose :func:`contamination_overlap` ratio EXCEEDS ``max_overlap``
    (strict >, so max_overlap=0.0 reproduces :func:`decontaminate`'s
    any-gram rule on gram-bearing docs). Returns the surviving rows of
    ``df`` with all original columns.

    Scale shape: the contaminated-id set (usually a small fraction) is
    the only new exchange — one left anti join keyed on it; AQE
    broadcasts it when it fits, and a shuffled anti join is still
    linear when it does not."""
    contaminated = (
        contamination_overlap(
            df, id_col, text_col, benchmark, bench_text_col, n
        )
        .where(F.col("overlap") > max_overlap)
        .select(F.col("record_id").alias(id_col))
    )
    return df.join(contaminated, id_col, "left_anti")


def hot_ngrams(
    df: DataFrame,
    text_col: str,
    n: int = 3,
    top_k: int = 20,
) -> DataFrame:
    """Corpus heavy-hitters: the ``top_k`` word ``n``-grams by document
    frequency — the boilerplate-mining / template-discovery pass that
    feeds stop-gram lists (segment_dedup's df_threshold and the canopy
    stop-word cap both assume someone has LOOKED at the head of this
    distribution). Returns (gram, doc_freq) ordered by (doc_freq DESC,
    gram ASC) — a total order, so ties at the top_k boundary are
    deterministic.

    Scale shape: word_ngrams is distinct-per-doc, so count(*) per gram
    IS document frequency — no count-distinct. The groupBy(gram) agg
    has map-side partial aggregation (hot boilerplate grams collapse to
    one partial row per task before the exchange, which is exactly the
    skew story: the hotter the gram, the better the combine ratio), and
    orderBy+limit compiles to TakeOrderedAndProject — per-partition
    top-k then a driver merge of top_k rows per partition, never a
    global sort."""
    return (
        df.select(
            F.explode(
                keygen.word_ngrams(F.col(text_col), n)
            ).alias("gram")
        )
        .groupBy("gram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), F.col("gram").asc())
        .limit(top_k)
    )


def passage_windows(
    text: Column, window: int
) -> Column:
    """All overlapping ``window``-token spans of a whitespace-tokenized
    text as array<struct<start:int, win:string>> (start is the 0-based
    token offset). Pure Catalyst (split + sequence + slice); the
    passage_dedup oracle mirrors it with a DuckDB list-slice CTE. A text
    with fewer than ``window`` tokens yields an empty array. The split
    is bound first (see segment_text) so it runs once per row, not once
    per window; passage_dedup itself materializes the token array into
    a column before windowing, which bounds it the same way."""
    return keygen._bind(
        F.split(F.coalesce(text, F.lit("")), " "),
        lambda words: _passage_windows_arr(words, window),
    )


def _passage_windows_arr(words: Column, window: int) -> Column:
    """passage_windows over an already-tokenized array<string>."""
    nwin = F.size(words) - window + 1
    return F.when(
        nwin > 0,
        F.transform(
            F.sequence(F.lit(0), nwin - 1),
            lambda i: F.struct(
                i.cast("int").alias("start"),
                F.array_join(F.slice(words, i + 1, window), " ").alias(
                    "win"
                ),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<start:int,win:string>>"))


#: Token count at which passage_dedup's kept-token rebuild switches from
#: the interpreted expression filter to the Arrow mask kernel. Web pages
#: sit around 10^3 tokens; 16k tokens is ~10x the p99 of the synth/web
#: corpus, so the Python round-trip is paid only by outlier documents
#: whose covered-span count could make the expression form quadratic.
PASSAGE_ARROW_MIN_TOKENS = 16_384


def passage_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
    min_sites: int = 2,
) -> DataFrame:
    """ExactSubstr-style duplicate-passage removal (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499 §4.1): remove every token covered by a ``window``-
    token span whose exact text occurs at >= ``min_sites`` distinct
    (document, offset) sites corpus-wide — including repeats *within*
    one document, exactly as the suffix-array formulation counts them.
    The fixed-window rolling formulation is equivalent to the paper's
    "substring of length >= L duplicated" criterion at token granularity:
    a token lies in a duplicated substring of >= ``window`` tokens iff
    some duplicated ``window``-window covers it. Returns
    (record_id, clean_text, n_tokens, n_removed); clean_text preserves
    surviving tokens in order ('' when everything was duplicated).

    Scale shape (contrast the pair-producing dedup family above): this
    operator is corpus-token-LINEAR even under adversarial boilerplate —
    no pairs are ever formed. The postings shuffle carries
    (id, start, xxhash64) only (~20 bytes/token, never text); the site
    count is one map-side-combining groupBy; the join-back fans out
    linearly in duplicate occurrences (each site appears once); the
    per-document rebuild state is bounded by document length. The one
    hash caveat matches the repo's xxhash64 convention: at 10^12-token
    corpora swap in a 128-bit split key.

    Kept-token rebuild: docs shorter than PASSAGE_ARROW_MIN_TOKENS go
    through the higher-order-expression filter (interpreted,
    O(tokens x covered-spans) per doc — fine for web pages at 10^3-10^4
    tokens, and it keeps the plan codegen-adjacent with no Python
    round-trip). Docs at or above the threshold route through an Arrow
    kernel that paints a boolean numpy mask from the duplicate starts —
    O(tokens + dup_sites x window) — so a pathological multi-MB doc with
    many duplicated spans cannot go quadratic in one task. The two paths
    are output-identical (pinned by
    test_passage_dedup_arrow_kernel_matches_expr).
    """
    base = df.select(
        F.col(id_col).alias("record_id"),
        F.split(F.coalesce(F.col(text_col), F.lit("")), " ").alias(
            "words"
        ),
    ).persist()
    wins = base.select(
        "record_id",
        F.explode(_passage_windows_arr(F.col("words"), window)).alias(
            "w"
        ),
    ).select(
        "record_id",
        F.col("w.start").alias("start"),
        F.xxhash64("w.win").alias("wh"),
    )
    dup = (
        wins.groupBy("wh")
        .agg(F.count("*").alias("sites"))
        .where(F.col("sites") >= min_sites)
        .select("wh")
    )
    starts = (
        wins.join(dup, "wh")
        .groupBy("record_id")
        .agg(F.collect_list("start").alias("starts"))
    )
    # Route split only when a long doc actually exists: the split plan
    # (two filtered branches + union + a pandas-UDF stage) costs ~2 s of
    # extra scheduling/exchange at sf0.1 even when the Arrow branch is
    # empty (measured), so the common all-short corpus keeps the old
    # single-branch pure-expression plan. The max-length probe is one
    # agg over the already-persisted token arrays.
    arrow_min_tokens = PASSAGE_ARROW_MIN_TOKENS
    max_len = base.agg(F.max(F.size("words"))).collect()[0][0] or 0
    if max_len < arrow_min_tokens:
        out = _passage_rebuild_expr(
            base.join(starts, "record_id", "left"), window
        )
        return _tag_persisted(out, base)
    starts = starts.persist()
    hydrated = base.join(starts, "record_id", "left")
    small = hydrated.where(F.size("words") < arrow_min_tokens)
    big = hydrated.where(F.size("words") >= arrow_min_tokens)
    out = _passage_rebuild_expr(small, window).unionByName(
        _passage_rebuild_arrow(big, window)
    )
    return _tag_persisted(out, base, starts)


def _passage_rebuild_expr(hydrated: DataFrame, window: int) -> DataFrame:
    """Kept-token rebuild as pure Catalyst expressions (the small-doc
    path): expand starts to the covered index set, filter by index."""
    covered = F.coalesce(
        F.array_distinct(
            F.flatten(
                F.transform(
                    F.col("starts"),
                    lambda s: F.sequence(s, s + F.lit(window - 1)),
                )
            )
        ),
        F.array().cast("array<int>"),
    )
    with_cov = hydrated.withColumn("covered", covered)
    kept = F.filter(
        F.col("words"),
        lambda w, i: ~F.array_contains(F.col("covered"), i.cast("int")),
    )
    return with_cov.select(
        "record_id",
        F.array_join(kept, " ").alias("clean_text"),
        F.size("words").alias("n_tokens"),
        (F.size("words") - F.size(kept)).cast("int").alias("n_removed"),
    )


def _passage_rebuild_arrow(hydrated: DataFrame, window: int) -> DataFrame:
    """Kept-token rebuild as an Arrow mask kernel (the long-doc path):
    paint mask[start : start+window] per duplicate site, keep the
    unmasked tokens — O(tokens + sites x window) per doc, no per-token
    array_contains scan. Output-identical to the expression form."""
    import numpy as np
    import pandas as pd

    # NB: no pd.Series annotations — `pandas` is imported lazily in this
    # function and PEP-563 string hints naming it would fail pyspark's
    # type-hint resolution at decoration time.
    @F.pandas_udf("clean_text string, n_tokens int, n_removed int")
    def rebuild(words, starts):
        texts: list[str] = []
        n_toks: list[int] = []
        n_rm: list[int] = []
        for w, st in zip(words, starts):
            n = len(w)
            mask = np.zeros(n, dtype=bool)
            if st is not None:
                for s in st:
                    mask[s : s + window] = True
            removed = int(mask.sum())
            if removed:
                arr = np.asarray(w, dtype=object)
                texts.append(" ".join(arr[~mask]))
            else:
                texts.append(" ".join(w))
            n_toks.append(n)
            n_rm.append(removed)
        return pd.DataFrame(
            {"clean_text": texts, "n_tokens": n_toks, "n_removed": n_rm}
        )

    out = hydrated.withColumn("o", rebuild("words", "starts"))
    return out.select(
        "record_id", "o.clean_text", "o.n_tokens", "o.n_removed"
    )
