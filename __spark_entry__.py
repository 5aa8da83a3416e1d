"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship ER pipeline (documents-as-pages ->
blocking -> scoring -> connected components) at sf0.001.

``queries()`` exposes every implemented operator family from SURVEY.md §2
as a (spark, sf_dir) -> DataFrame callable; ``oracle_sql()`` gives the
DuckDB-equivalent SQL for everything SQL-expressible. Column names/aliases
match exactly on both sides. Float-valued outputs are restricted to
values derived from integer inputs through identical single expressions
(bit-identical across engines); money aggregates are summed as
decimal(18,2) on both sides for exactness.
"""

from __future__ import annotations

import os
import sys
import tempfile
from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ny_campaign_finance_dedupe_spark.functions import (  # noqa: E402
    keygen,
    normalize,
    portable,
    textstats,
)
from ny_campaign_finance_dedupe_spark.operators import (  # noqa: E402
    ann,
    blocking,
    bloom,
    clustering,
    dedup,
    linkage,
    packing,
    pairs as pairs_ops,
    quality,
    refine,
    sampling,
)
from ny_campaign_finance_dedupe_spark.plans import training  # noqa: E402
from ny_campaign_finance_dedupe_spark.plans import reports  # noqa: E402
from ny_campaign_finance_dedupe_spark.plans.pipeline import (  # noqa: E402
    DedupePipeline,
    PipelineConfig,
)
from ny_campaign_finance_dedupe_spark.sources.checkpoint import (  # noqa: E402
    CheckpointStore,
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _documents_as_pages(docs: DataFrame) -> DataFrame:
    """Adapt the documents table to the pages(url, warc_ts, html, text,
    lang) input shape (input_hint)."""
    return docs.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/d/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.col("text"),
        F.col("lang"),
    )


def _scratch_mkdtemp(prefix: str) -> str:
    """Checkpoint dirs for entry()/queries() live under the session
    scratch and are reaped at interpreter exit: the returned DataFrames
    read the checkpoint files lazily, so eager deletion would break the
    caller, but leaving one dir per driver/gate invocation accumulates
    dead parquet across a long session."""
    import atexit
    import shutil

    from ny_campaign_finance_dedupe_spark.session import scratch_dir

    os.makedirs(scratch_dir(), exist_ok=True)
    d = tempfile.mkdtemp(prefix=prefix, dir=scratch_dir())
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full checkpointed dedupe pipeline over sf0.001 documents."""
    docs = _t(spark, DEFAULT_SF_DIR, "documents")
    pages = _documents_as_pages(docs)
    store = CheckpointStore(_scratch_mkdtemp("nycfd_entry_"))
    pipe = DedupePipeline(PipelineConfig(), store)
    entity_map = pipe.run(spark, pages)
    return entity_map.select("record_id", "cluster_id", "cluster_score")


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _docs_with_planted_dupes(docs: DataFrame) -> DataFrame:
    """documents plus byte-identical copies of every 50th doc (id+10M):
    the sf fixtures have zero exact duplicates, which made the exact-dup
    checks vacuous (VERDICT r01 J5). Planting inside the query (mirrored
    in the oracle SQL) makes rows/hash verify non-trivial output."""
    dup = docs.where(F.col("doc_id") % 50 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(10_000_000)
    )
    return docs.unionByName(dup)


def q_exact_dedup_clusters(spark, sf_dir):
    """P5/C8: byte-identical payload dedup, cluster id = min member id."""
    docs = _docs_with_planted_dupes(_t(spark, sf_dir, "documents"))
    return (
        dedup.exact_duplicates(docs, "doc_id", "text")
        .select("record_id", "cluster_id", "cluster_size")
        .orderBy("record_id")
    )


def q_fingerprint_clusters(spark, sf_dir):
    """N-family + C8: cluster by sorted-distinct-token fingerprint
    (predicates.py:421-422) — order-insensitive exact dedup."""
    docs = _t(spark, sf_dir, "documents")
    fp = docs.select(
        F.col("doc_id").alias("record_id"),
        textstats.doc_fingerprint(F.col("text")).alias("fp"),
    )
    agg = fp.groupBy("fp").agg(F.min("record_id").alias("cluster_id"))
    return fp.join(agg, "fp").select("record_id", "cluster_id").orderBy("record_id")


def q_blocking_first_token_pairs(spark, sf_dir):
    """J1: the blocking self-join on a firstToken predicate
    (predicates.py:358-363 + campaign_finance_dedupe.py:310-314)."""
    docs = _t(spark, sf_dir, "documents")
    bm = blocking.build_blocking_map(
        docs, "doc_id", {"ft": keygen.first_token(F.col("text"))}
    )
    return pairs_ops.candidate_pairs(bm).orderBy("src", "dst")


def _doc_df_cap(docs: DataFrame) -> int:
    """The canopy stop-word cap for the fixture's doc count — always ON in
    the shingle-join paths (the 100 TB scale guard; mirrored in _GRAMS)."""
    return dedup.default_df_cap(docs.count())


def q_ngram_jaccard_dedup(spark, sf_dir):
    """Exact word-trigram Jaccard >= 0.8 near-dup pairs (equi-join plan,
    df-capped shingles)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.8, df_cap=_doc_df_cap(docs)
    ).orderBy("src", "dst")


#: Winnowing geometry for the gate queries: k=16-char grams, w=8-hash
#: windows — guarantee threshold w+k-1 = 23 chars, density 2/(w+1) ≈ 0.22.
#: Measured at sf0.1: k=8/w=4 grams (~1.5 words) are stop-grams on
#: web-ish text (6.5k distinct grams for 547k postings, Σdf² = 197M →
#: 12 s join); k=16/w=8 is discriminative (150k distinct, Σdf² = 2.2M →
#: 2 s) with the SAME output pairs at threshold 0.5.
WINNOW_K, WINNOW_W = 16, 8


def q_winnow_fingerprints(spark, sf_dir):
    """Rolling-hash document fingerprinting (winnowing, Schleimer et al.
    SIGMOD 2003) as a postings list: one (record_id, fp) row per
    selected k-gram hash. Portable hash60 family so DuckDB recomputes
    the values bit-identically; the fast family is xxhash64."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").alias("record_id"),
        F.explode(
            textstats.winnow_fingerprints(
                F.col("text"), k=WINNOW_K, w=WINNOW_W, family="portable"
            )
        ).alias("fp"),
    ).orderBy("record_id", "fp")


def q_winnow_neardup(spark, sf_dir):
    """Near-dup pairs by Jaccard >= 0.5 over winnowing fingerprint sets —
    the same df-capped postings equi-join as ngram_jaccard_dedup but on
    a ~(w+1)/2-x smaller selected-hash postings table."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.winnow_jaccard_pairs(
        docs,
        "doc_id",
        "text",
        k=WINNOW_K,
        w=WINNOW_W,
        threshold=0.5,
        df_cap=_doc_df_cap(docs),
        family="portable",
    ).orderBy("src", "dst")


def q_cc_jaccard_clusters(spark, sf_dir):
    """C1/C5: connected components over Jaccard>=0.8 edges + singletons —
    the transitive-clustering operator with a recursive-CTE oracle."""
    docs = _t(spark, sf_dir, "documents")
    edges = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.8, df_cap=_doc_df_cap(docs)
    )
    comp = clustering.connected_components(edges.select("src", "dst"))
    full = clustering.add_singletons(docs, "doc_id", comp.withColumn("cluster_score", F.lit(1.0)))
    return full.select("record_id", "cluster_id").orderBy("record_id")


def q_token_stats(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").alias("record_id"),
        textstats.token_count(F.col("text")).alias("n_tokens"),
        textstats.bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
    ).orderBy("record_id")


def q_quality_score(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").alias("record_id"),
        textstats.quality_score(F.col("text")).alias("quality"),
    ).orderBy("record_id")


def q_lang_id(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").alias("record_id"),
        textstats.lang_id(F.col("text")).alias("lang_pred"),
    ).orderBy("record_id")


def q_normalize_project(spark, sf_dir):
    """P1/P2/N1: normalization + empty->NULL + predicate filter."""
    cust = _t(spark, sf_dir, "customer")
    return (
        cust.where(
            (F.col("c_mktsegment") == "BUILDING") & ~F.col("c_name").like("%unitem%")
        )
        .select(
            F.col("c_custkey").alias("record_id"),
            normalize.normalize_text(F.col("c_name")).alias("nname"),
            normalize.empty_to_null(F.col("c_mktsegment")).alias("segment"),
        )
        .orderBy("record_id")
    )


def q_typecode_decode(spark, sf_dir):
    """P4: the 13-arm CASE type decode (init_postgres_db.py:122-147)."""
    ev = _t(spark, sf_dir, "events")
    code = (
        F.when(F.col("event_type") == "click", 1)
        .when(F.col("event_type") == "view", 2)
        .when(F.col("event_type") == "purchase", 3)
        .when(F.col("event_type") == "signup", 4)
        .when(F.col("event_type") == "error", 5)
        .otherwise(0)
    )
    return (
        ev.groupBy(code.alias("type_code"))
        .agg(F.count("*").alias("n"))
        .orderBy("type_code")
    )


def q_json_extract(spark, sf_dir):
    """S4-analog: JSON payload projection (row_to_json inverse)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(
            F.col("event_id").alias("record_id"),
            F.get_json_object(F.col("props"), "$.k").cast("int").alias("k"),
        )
        .orderBy("record_id")
    )


def q_window_topk_per_user(spark, sf_dir):
    """C7: top-N per key via row_number window (clustering.py:280-308)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("user_id", "event_id", "rank")
        .orderBy("user_id", "rank")
    )


def q_top_entities(spark, sf_dir):
    """A1/J6/J7: deduped top-10 by summed measure. Entity map: customers
    clustered by mktsegment (stand-in clusters), facts: orders."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    em = (
        cust.groupBy("c_mktsegment")
        .agg(F.min("c_custkey").alias("cluster_id"))
        .join(cust, "c_mktsegment")
        .select(F.col("c_custkey").alias("record_id"), "cluster_id")
    )
    facts = orders.select(
        F.col("o_custkey"), F.col("o_totalprice").cast("decimal(18,2)").alias("price")
    )
    return (
        reports.top_entities_by_measure(facts, em, "o_custkey", "price", n=10)
        .select("canon_id", F.col("total").cast("decimal(18,2)").alias("total"))
    )


def q_cluster_size_histogram(spark, sf_dir):
    """A3: cluster-size histogram over the fingerprint clusters."""
    em = q_fingerprint_clusters(spark, sf_dir)
    return reports.cluster_size_histogram(em).orderBy("cluster_id")


def q_run_stats(spark, sf_dir):
    """A5: biggest/avg cluster size, totals, ratio."""
    em = q_fingerprint_clusters(spark, sf_dir)
    return reports.run_stats(em)


def q_canonical_mode(spark, sf_dir):
    """A7: modal value per cluster (customers per nation -> segment)."""
    cust = _t(spark, sf_dir, "customer")
    df = cust.select(
        F.col("c_nationkey").alias("cluster_id"), F.col("c_mktsegment")
    )
    return reports.canonical_value_per_cluster(df, "c_mktsegment").orderBy(
        "cluster_id"
    )


def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-shaped reporting aggregate (decimal-exact sums)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # decimal-exact sums, surfaced as double: the decimal RESULT
            # SCALE differs across engines (Spark dec(28,2) vs DuckDB
            # dec(38,2)) and hash-canonicalizes differently; the exact
            # decimal -> double conversion is bit-identical on both sides.
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_base_price"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs (ids only; threshold margin-safe)."""
    emb = _t(spark, sf_dir, "embeddings")
    return (
        ann.cosine_neardup_pairs(emb, "vec_id", "embedding", threshold=0.4)
        .select("src", "dst")
        .orderBy("src", "dst")
    )


def q_ann_topk(spark, sf_dir):
    """Brute-force cosine top-3 for the first 32 vectors (ids + rank)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 32)
    return (
        ann.brute_force_topk(
            q, emb, "vec_id", "embedding", k=3, round_decimals=9
        )
        .select("query_id", "neighbor_id", "rank")
        .orderBy("query_id", "rank")
    )


def q_canonical_centroid(spark, sf_dir):
    """A8 (dedupe/canonical.py:5-71): per fingerprint-cluster, the member
    text minimizing total edit distance to the others."""
    docs = _t(spark, sf_dir, "documents")
    em = q_fingerprint_clusters(spark, sf_dir)
    return (
        refine.canonicalize_clusters(em, docs, "doc_id", "text")
        .withColumn("cluster_id", F.col("cluster_id").cast("long"))
        .orderBy("cluster_id")
    )


def _doc_link_sides(spark, sf_dir):
    """Split documents into query (doc_id % 7 == 0) and index sides and
    block both on first token — the two-dataset linkage fixture."""
    docs = _t(spark, sf_dir, "documents")
    q = docs.where(F.col("doc_id") % 7 == 0)
    idx = docs.where(F.col("doc_id") % 7 != 0)
    kg = {"ft": keygen.first_token(F.col("text"))}
    bq = blocking.build_blocking_map(q, "doc_id", kg)
    bi = blocking.build_blocking_map(idx, "doc_id", kg)
    cand = pairs_ops.record_link_pairs(bq, bi)
    hyd = pairs_ops.hydrate_pairs(
        cand, docs.select("doc_id", "text"), "doc_id", ["text"]
    )
    from ny_campaign_finance_dedupe_spark.operators import scoring

    feats = scoring.with_features(hyd, "text_a", "text_b")
    return feats.select("src", "dst", F.col("f_jaccard").alias("score"))


def q_gazetteer_topk(spark, sf_dir):
    """C7 (clustering.py:280-308): top-2 index matches per query record
    by token-Jaccard, within first-token blocks."""
    scored = _doc_link_sides(spark, sf_dir)
    return (
        linkage.gazetteer_topk(scored, n_matches=2, threshold=0.0)
        .select(
            F.col("src").alias("query_id"),
            F.col("dst").alias("neighbor_id"),
            "rank",
        )
        .orderBy("query_id", "rank")
    )


def q_predicate_cover(spark, sf_dir):
    """T4 (dedupe/training.py:133-221): which exact-duplicate pairs each
    candidate predicate co-blocks."""
    docs = _t(spark, sf_dir, "documents")
    fpd = docs.select(
        "doc_id", textstats.doc_fingerprint(F.col("text")).alias("f")
    )
    truth = (
        fpd.alias("a")
        .join(fpd.alias("b"), F.col("a.f") == F.col("b.f"))
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
    )
    cover = training.predicate_cover(
        docs,
        "doc_id",
        {
            "ft": keygen.first_token(F.col("text")),
            "fp": keygen.fingerprint(F.col("text")),
        },
        truth,
    )
    return cover.orderBy("predicate", "src", "dst")


def q_keygen_text(spark, sf_dir):
    """Predicate-family coverage: acronym / prefix / suffix-array /
    2-gram-fingerprint keys as columns (predicates.py:425-473)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").alias("record_id"),
        F.get(keygen.sorted_acronym(F.col("text")), 0).alias("acronym"),
        F.get(keygen.prefix(F.col("text"), 5), 0).alias("pfx5"),
        F.size(keygen.suffix_array(F.col("text"))).alias("n_suffix_keys"),
        F.get(keygen.two_gram_fingerprint(F.col("text")), 0).alias("fp2"),
    ).orderBy("record_id")


def q_hundred_buckets(spark, sf_dir):
    """hundredIntegerPredicate (predicates.py:388-390) over order keys —
    integer-exact bucketing + count per bucket."""
    orders = _t(spark, sf_dir, "orders")
    key = F.get(
        keygen.hundred_integers(F.col("o_orderkey").cast("string")), 0
    )
    return (
        orders.groupBy(key.cast("long").alias("bucket"))
        .agg(F.count("*").alias("n"))
        .orderBy("bucket")
    )


def q_minhash_dedup(spark, sf_dir):
    """Banded-MinHash candidates, portable-hash variant (same plan shape
    as the xxhash64 fast path; every value DuckDB-recomputable)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_candidate_pairs(
        docs, "doc_id", "text", num_perm=16, bands=8, rows=2,
        est_threshold=0.5, family="portable",
    ).orderBy("src", "dst")


def q_simhash_dedup(spark, sf_dir):
    """SimHash near-pairs, portable 32-bit variant. Banding is exact for
    hamming <= bands-1, so the oracle is the all-pairs Hamming predicate."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash_near_pairs(
        docs, "doc_id", "text", max_hamming=3, family="portable"
    ).orderBy("src", "dst")


def q_lsh_ann_topk(spark, sf_dir):
    """LSH bucketed ANN, portable-plane variant (integer-exact bucket
    patterns; exact cosine re-rank) — same plan as the seeded fast path."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 32)
    return (
        ann.lsh_topk(q, emb, dim=64, k=3, bands=8, bits=8, portable=True,
                     round_decimals=9)
        .select("query_id", "neighbor_id", "rank")
        .orderBy("query_id", "rank")
    )


def q_ivf_ann_topk(spark, sf_dir):
    """IVF inverted-file ANN (ann.ivf_topk): data-seeded coarse
    quantizer (16 lowest-id vectors), nearest-list assignment by
    9-decimal-quantized cosine, 4-probe search, exact cosine re-rank.
    The oracle rebuilds the identical quantizer with ORDER BY/LIMIT and
    mirrors every stage; kmeans refinement (train_iters>0) is the
    non-SQL quality knob, pinned by tests/test_dedup_ops.py instead."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 32)
    return (
        ann.ivf_topk(q, emb, "vec_id", "embedding", k=3, nlist=16,
                     nprobe=4, round_decimals=9)
        .select("query_id", "neighbor_id", "rank")
        .orderBy("query_id", "rank")
    )


def q_shard_counts(spark, sf_dir):
    """Deterministic corpus sharding (sampling.assign_shards): per-row
    hash-based shard in [0, 16) plus the per-shard size profile the
    write side partitions by — reproducible at any parallelism. Oracle
    recomputes the md5-derived shard ids and the group sizes."""
    docs = _t(spark, sf_dir, "documents")
    sharded = sampling.assign_shards(
        docs.select("doc_id"), "doc_id", n_shards=16
    )
    return (
        sharded.groupBy("shard")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("min_id"))
        .orderBy("shard")
    )


def q_pack_sequences(spark, sf_dir):
    """Fixed-length sequence packing (operators/packing.py): the
    GPT-style concat-and-chunk layout — documents laid out per
    deterministic shard in portable-hash order into a token stream cut
    every 64 tokens (small so spanning docs exist in the fixture); each
    doc gets (shard, seq_start, tok_offset, n_seqs). Shard AND order are
    pure functions of (salt, id), so the oracle recomputes the entire
    layout from md5 + one window cumsum — bit-identical, including
    integer DIV/% (no float floor drift)."""
    docs = _t(spark, sf_dir, "documents")
    return packing.pack_sequences(
        docs, "doc_id", "text", seq_len=64, n_shards=8
    ).orderBy("record_id")


def q_quality_classifier(spark, sf_dir):
    """FastText-style hashed n-gram classifier inference
    (operators/quality.py): token+bigram features portable-hashed into
    512 buckets (native md5, zero UDF), weighted under the
    oracle-checkable pseudo_weights family, per-doc logit as an exact
    BIGINT milli-sum + ONE float divide. The gate value-checks the
    whole serving kernel — hashing, bucket weighting, feature-mean
    normalization; trained models broadcast through the identical join
    and are pinned by test_quality_classifier's held-out-accuracy
    fit."""
    docs = _t(spark, sf_dir, "documents")
    return quality.score_text_classifier(
        docs, "doc_id", "text", model=None, n_buckets=512
    ).orderBy("record_id")


def q_repetition_stats(spark, sf_dir):
    """Gopher repetition quality filters (textstats.repetition_stats;
    Rae et al. 2021 §A1.1) at token granularity: repeated-token share,
    top/duplicate 2- and 3-gram fractions per document — one Arrow
    kernel, zero shuffle; the oracle recomputes every Counter with
    explode + per-doc grouping (fractions are single int-ratio divides,
    bit-identical)."""
    docs = _t(spark, sf_dir, "documents")
    return textstats.repetition_stats(docs, "doc_id", "text").orderBy(
        "record_id"
    )


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (dedup.decontaminate): drop every doc
    sharing an 8-word gram with the pseudo-benchmark (doc_id % 97 == 0
    rows of the same corpus — so the benchmark rows and their planted
    near-dup family members contaminate). Broadcast semi-join on gram
    hashes; the corpus side never shuffles text. Oracle joins the gram
    CTEs directly."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    return (
        dedup.decontaminate(docs, "doc_id", "text", bench, "text", n=8)
        .select(
            F.col("doc_id").alias("record_id"), "lang", "n_chars"
        )
        .orderBy("record_id")
    )


def q_pii_redact(spark, sf_dir):
    """PII scrub (normalize.redact_pii): emails, IPv4s, and phone-shaped
    digit runs replaced with typed placeholders, planted deterministically
    from doc_id (every 2nd doc an email, every 3rd an IP, every 5th a
    phone — so overlap combinations occur). Pure Catalyst regexp chain;
    the oracle applies the IDENTICAL RE2-compatible patterns with
    DuckDB's 'g' flag (Spark regexp_replace is global by default)."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    dirty = F.concat(
        F.col("text"),
        F.when(
            d % 2 == 0,
            F.concat(F.lit(" contact user"), d.cast("string"),
                     F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            d % 3 == 0,
            F.concat(F.lit(" from 10.0."), (d % 200).cast("string"),
                     F.lit(".7")),
        ).otherwise(F.lit("")),
        F.when(
            d % 5 == 0,
            F.concat(F.lit(" call +1 (555) 01"), (d % 90 + 10).cast("string")),
        ).otherwise(F.lit("")),
    )
    return docs.select(
        F.col("doc_id").alias("record_id"),
        normalize.redact_pii(dirty).alias("clean_text"),
    ).orderBy("record_id")


def q_clean_corpus(spark, sf_dir):
    """Composite corpus-cleaning recipe (plans/corpus.clean_corpus):
    CCNet segment dedup -> drop emptied docs -> exact keep-min on the
    CLEANED text -> minimum-length gate, one lazy plan over the same
    code paths the standalone queries gate. The oracle composes the
    shared segment CTEs with the dedup window and the length filter."""
    from ny_campaign_finance_dedupe_spark.plans import corpus

    docs = _t(spark, sf_dir, "documents")
    return corpus.clean_corpus(
        docs, "doc_id", "text", seg_words=10, df_threshold=1, min_tokens=5
    ).orderBy("record_id")


def q_stratified_sample(spark, sf_dir):
    """Deterministic corpus mixing (operators/sampling.py): per-language
    keep rates compiled to one native CASE over the portable-hash60
    uniform (membership is a pure function of (salt, id) — stable under
    repartition, retries, and cluster size), then a deterministic
    train/test split column. Oracle recomputes the identical md5-derived
    uniforms (portable.sql_hash60), rates, and split."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    samp = sampling.stratified_sample(
        docs, "doc_id", "lang",
        {"en": 0.1, "es": 0.5, "zh": 1.0},
        default_rate=0.25, salt="mix1",
    )
    return sampling.train_test_split(
        samp, "doc_id", test_frac=0.2, salt="split"
    ).orderBy("doc_id")


def q_temperature_mix(spark, sf_dir):
    """Temperature-based corpus mixing (sampling.temperature_mix, the
    XLM-R/mT5 alpha-sampling recipe): per-language rates derived from
    the observed counts (p_g = n_g^0.5 / sum n^0.5, rate = min(1,
    target*p_g/n_g)) applied through the deterministic portable-hash
    uniform. The sum over groups is an order-FIXED fold over the
    group-sorted list (not a distributed float SUM, whose partition-
    dependent order would change the sampled set between cluster
    sizes); the oracle recomputes it with
    list_reduce(list_sort(...)) and the identical operand order, so
    mix_rate matches bit-for-bit."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return sampling.temperature_mix(
        docs, "doc_id", "lang", target_total=200, alpha=0.5, salt="temp"
    ).select("doc_id", "lang", "mix_rate").orderBy("doc_id")


def q_segment_dedup(spark, sf_dir):
    """CCNet paragraph dedup (dedup.segment_dedup; Wenzek et al. 2019):
    drop every 10-word segment occurring in >1 document (the planted
    dup families make these), rebuild surviving text in order. Hot
    segments come from hash postings and leave through a broadcast
    anti-join against the hot-hash list, then one groupBy(record_id)
    rebuild. Oracle mirrors segmentation (list slices), the df filter,
    and the ORDER BY pos string_agg rebuild."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.segment_dedup(
        docs, "doc_id", "text", seg_words=10, df_threshold=1
    ).orderBy("record_id")


def q_passage_dedup(spark, sf_dir):
    """ExactSubstr duplicate-passage removal (dedup.passage_dedup; Lee
    et al. 2022, arXiv:2107.06499 §4.1): every token covered by an
    8-token span occurring at >=2 (doc, offset) sites corpus-wide is
    removed — the planted dup families share long spans, so this prunes
    their common passages while unique text survives byte-identical.
    The impl groups window sites by xxhash64; the oracle groups by the
    window STRING itself (same result absent 64-bit collisions of the
    window hashes) and mirrors the slice windows, >=2-site filter,
    covered-position union, and ORDER BY pos rebuild."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.passage_dedup(
        docs, "doc_id", "text", window=8
    ).orderBy("record_id")


def q_lm_score(spark, sf_dir):
    """Corpus-trained unigram LM quality score (textstats.lm_score; the
    CCNet LM-filter shape, Wenzek et al. 2019): fit token counts in one
    map-side-combining agg + bounded top-V (V=20 here so OOV tokens
    exist in the fixture), broadcast the model, score every doc in one
    Arrow kernel with zero corpus shuffle. The gate exposes the
    oracle-exact columns (integer counts + single-divide known_frac);
    the float avg_logprob is pinned by pytest against an independent
    scalar computation (the fast/portable-family split)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        textstats.lm_score(docs, "doc_id", "text", vocab_size=20)
        .select("record_id", "n_tok", "n_oov", "known_frac")
        .orderBy("record_id")
    )


def q_bloom_novelty(spark, sf_dir):
    """Bloom-prefiltered incremental dedup (operators/bloom.py): an
    ingest batch — planted as 1/7 true duplicates of history under new
    ids plus 1/7 genuinely novel texts — is reduced to its EXACT novelty
    set against the full corpus. Bloom-negative rows short-circuit (zero
    false negatives by construction); only bloom-positive rows pay the
    exact confirm anti-join, so a mostly-novel batch touches history for
    ~dup_rate of its rows. The filter is a side-car index (one pass over
    history, 16 bits/key), reusable across batches. Oracle: plain ANTI
    JOIN on the payload (the bloom is an optimization, not a
    semantics change — exactness is the contract)."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    dups = docs.filter(d % 7 == 0).select(
        (d + 20_000_000).alias("doc_id"), "text"
    )
    novel = docs.filter(d % 7 == 3).select(
        (d + 30_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" NOVEL")).alias("text"),
    )
    batch = dups.unionByName(novel)
    return (
        bloom.bloom_novelty(batch, docs, "doc_id", "text", n_buckets=16)
        .select("record_id")
        .orderBy("record_id")
    )


def q_c4_clean(spark, sf_dir):
    """C4 corpus cleaning (textstats.c4_clean; Raffel et al. 2020 §2.2):
    line-level terminal-punctuation/>=5-words/javascript filters plus
    doc-level lorem-ipsum / curly-brace / blocklist / >=3-sentences
    gates. The fixture text has no line structure, so lines are planted
    deterministically — 6-word chunks, '.' appended on 2 of 3 lines,
    'javascript ' prefixed on every 7th, a lorem-ipsum line on doc_id%13
    and a curly-brace line on doc_id%17 — exercising every branch. Pure
    Catalyst (zero shuffle, one codegen span over the scan); the oracle
    mirrors the synthesis and every filter token-for-token."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    words = F.split(F.coalesce(F.col("text"), F.lit("")), " ")
    nc = F.greatest(
        F.ceil(F.size(words) / F.lit(6.0)).cast("long"), F.lit(1)
    )
    line = lambda i: F.concat(  # noqa: E731
        F.when(i % 7 == 0, F.lit("javascript ")).otherwise(F.lit("")),
        F.array_join(F.slice(words, (i * 6 + 1).cast("int"), 6), " "),
        F.when(i % 3 != 0, F.lit(".")).otherwise(F.lit("")),
    )
    raw = F.concat(
        F.array_join(F.transform(F.sequence(F.lit(0), nc - 1), line), "\n"),
        F.when(
            d % 13 == 0, F.lit("\nlorem ipsum dolor sit amet consectetur.")
        ).otherwise(F.lit("")),
        F.when(
            d % 17 == 0, F.lit("\nthe config { block } is here now.")
        ).otherwise(F.lit("")),
    )
    lined = docs.select("doc_id", raw.alias("raw_text"))
    return textstats.c4_clean(lined, "doc_id", "raw_text").orderBy(
        "record_id"
    )


def q_url_dedup(spark, sf_dir):
    """Canonical-URL dedup (normalize.canonical_url): the Common-Crawl
    URL prefilter — scheme/host-case fold, www + default-port strip,
    trailing-slash and fragment drop, tracking-param removal, query-param
    sort — then exact grouping on the canonical form. URLs are
    synthesized deterministically from doc_id with planted variants
    (case noise, :443, trailing slash, utm/fbclid params, param order,
    fragments); the oracle rebuilds the same URLs and mirrors every
    canonicalization rule token-for-token. Pure Catalyst (regexp + array
    ops, no UDF) — runs inside the scan projection at 10^12 rows."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    url = F.concat(
        F.when(d % 2 == 0, F.lit("HTTP://WWW.")).otherwise(F.lit("https://")),
        F.lit("Site"), (d % 10).cast("string"), F.lit(".Example.COM"),
        F.when(d % 5 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/Docs/"), F.floor(d / 20).cast("string"),
        F.when(d % 3 == 1, F.lit("/")).otherwise(F.lit("")),
        F.when(d % 4 == 0, F.lit("?utm_source=feed&b=2&a=1"))
        .when(d % 4 == 1, F.lit("?a=1&b=2&fbclid=XYZ"))
        .when(d % 4 == 2, F.lit("?b=2&a=1"))
        .otherwise(F.lit("")),
        F.when(d % 7 == 0, F.lit("#Section-2")).otherwise(F.lit("")),
    )
    w = Window.partitionBy("canonical_url")
    return (
        docs.select(
            url.alias("url"),
            normalize.canonical_url(url).alias("canonical_url"),
        )
        .withColumn("cluster_id", F.min("url").over(w))
        .orderBy("url")
    )


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup semantic dedup (ann.semantic_dedup; Abbas et al. 2023):
    data-seeded 16-list coarse quantizer, within-list exact cosine >=
    0.35 duplicate edges, transitive closure, keep the member farthest
    from its list centroid (the paper's diversity rule; ties -> smaller
    id). The oracle mirrors assignment (ivf_topk's CTE, now also
    carrying the centroid cosine), the within-list pair filter, the
    recursive-CTE closure, and the ROW_NUMBER keeper pick; kmeans
    refinement (train_iters>0) is the non-SQL quality knob, pinned by
    tests/test_dedup_ops.py on planted blobs instead."""
    emb = _t(spark, sf_dir, "embeddings")
    return (
        ann.semantic_dedup(
            emb, "vec_id", "embedding", eps=0.35, nlist=16,
            round_decimals=9, keep="centroid_far",
        )
        .orderBy("record_id")
    )


def q_greedy_link(spark, sf_dir):
    """C6 (clustering.py:265-277): one-to-one greedy matching on the
    doc-linkage fixture (iterative — rows-only check)."""
    scored = _doc_link_sides(spark, sf_dir)
    return (
        linkage.greedy_one_to_one(scored, threshold=0.3)
        .select("src", "dst")
        .orderBy("src", "dst")
    )


def q_hac_refine(spark, sf_dir):
    """C3 (clustering.py:155-238): HAC split of CC components at a higher
    cut, single linkage — whose cut equals connected components of the
    >= 0.9 subgraph, giving an exact recursive-CTE oracle. The
    average-linkage default is pinned by ported reference fixtures in
    tests/test_linkage_refine.py instead (no closed SQL form)."""
    docs = _t(spark, sf_dir, "documents")
    edges = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5, df_cap=_doc_df_cap(docs)
    )
    edges = edges.select("src", "dst", F.col("jaccard").alias("score"))
    comp = clustering.connected_components(edges.select("src", "dst"))
    return refine.hac_refine(
        edges, comp, threshold=0.9, linkage="single"
    ).orderBy("record_id")


def q_phonetic_keys(spark, sf_dir):
    """doubleMetaphone-analog blocking keys (soundex; no DuckDB twin)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").alias("record_id"),
        F.get(
            keygen.phonetic(F.regexp_extract(F.col("text"), r"^([\w']+)", 1)), 0
        ).alias("phonetic_key"),
    ).orderBy("record_id")


#: Hand-verified Double Metaphone codes for the fixture's complete
#: first-token vocabulary (30 words, identical across sf0.001/0.01/0.1).
#: Each entry was derived BY HAND from Lawrence Philips' published rule
#: set (C&C Users Journal, June 2000) — initial-vowel 'A', B->P, TCH->X,
#: G+E/I/Y 'J'/'K' split, initial J 'J'/'A' split, SH->X, S+L/M/N/W
#: 'S'/'X' split, TH thorn '0'/'T', V->F, initial W+vowel 'A'/'F' split,
#: final W-after-vowel alt 'F' — NOT generated by functions/metaphone.py,
#: so the CORRECTNESS gate cross-checks the implementation against an
#: independently-derived truth table (VERDICT r03 "go 42/42"). The key
#: string is the query's contract: sorted non-empty codes joined by '|'.
#: tests/test_metaphone.py::test_fixture_vocabulary_pinned asserts the
#: implementation reproduces every row.
METAPHONE_VOCAB = {
    "a": "A", "agg": "AK", "batch": "PX", "big": "PK", "column": "KLMN",
    "customer": "KSTM", "data": "TT", "fast": "FST", "filter": "FLTR",
    "group": "KRP", "hash": "HX", "join": "AN|JN", "key": "K",
    "line": "LN", "merge": "MRJ|MRK", "order": "ARTR", "part": "PRT",
    "query": "KR", "row": "R|RF", "scan": "SKN", "slow": "SL|XLF",
    "small": "SML|XML", "sort": "SRT", "spark": "SPRK", "stream": "STRM",
    "table": "TPL", "the": "0|T", "value": "FL", "vector": "FKTR",
    "window": "ANT|FNTF",
}


def q_metaphone_keys(spark, sf_dir):
    """The reference's exact phonetic blocking family —
    predicates.doubleMetaphone (dedupe/predicates.py:476-479) — via the
    genuine Double Metaphone reimplementation (functions/metaphone.py,
    Arrow-batched). The algorithm is a 500-line branching state machine
    with no general ANSI-SQL equivalent, but the gate input's vocabulary
    is bounded (30 distinct first tokens), so the oracle joins against
    the independently hand-derived METAPHONE_VOCAB truth table; general
    values remain pinned by the ported reference vectors in
    tests/test_metaphone.py."""
    from ny_campaign_finance_dedupe_spark.functions import metaphone

    docs = _t(spark, sf_dir, "documents")
    first_word = F.regexp_extract(F.col("text"), r"^([\w']+)", 1)
    return docs.select(
        F.col("doc_id").alias("record_id"),
        F.concat_ws(
            "|", metaphone.double_metaphone_keys(first_word)
        ).alias("metaphone_key"),
    ).orderBy("record_id")


def _portable_cfg() -> "PipelineConfig":
    """The correctness-gate pipeline configuration: portable hash family
    (every signature DuckDB-recomputable), 16 perms in 8x2 bands."""
    return PipelineConfig(
        portable_hashing=True, minhash_perms=16, minhash_bands=8, minhash_rows=2
    )


def q_incremental_match(spark, sf_dir):
    """Gazetteer/streaming analog (dedupe/api.py:612-896): match a batch
    of new pages against a persistent index (same code path foreachBatch
    drives; portable minhash/simhash blocking -> full SQL oracle)."""
    from ny_campaign_finance_dedupe_spark.streaming import incremental

    docs = _t(spark, sf_dir, "documents")
    pages = _documents_as_pages(docs.withColumn(
        "source", F.concat(F.col("source"), (F.col("doc_id") % 7).cast("string"))
    ))
    # split on the url's trailing doc id (engine-portable), not a hash:
    # every 7th doc is the incoming batch, the rest the indexed corpus
    uid = F.regexp_extract(F.col("url"), r"/d/(\d+)$", 1).cast("long")
    idx_pages = pages.where(uid % 7 != 0)
    batch = pages.where(uid % 7 == 0)
    cfg = _portable_cfg()
    index = incremental.build_index(idx_pages, cfg)
    pipe = DedupePipeline(cfg)
    return (
        incremental.match_batch(
            pipe.with_signatures(pipe.extract(batch)), index, cfg, n_matches=1
        )
        .select("query_url", "match_url", "rank")
        .orderBy("query_url")
    )


def q_crawl_entity_map(spark, sf_dir):
    """The composed incremental crawl pipeline (streaming/crawl.py —
    the foreachBatch production shape, driven here as its batch-callable
    kernel): extract and content-key the batch (every 7th doc) once,
    Bloom-probe it against the indexed history (the rest), drop
    already-seen pages,
    gazetteer-match the novel remainder (portable blocking -> features
    -> logistic threshold 0.5), and emit the entity-map rows — matched
    pages adopt their best match's url as cluster id, unmatched pages
    found singletons. The Bloom stage is EXACT novelty regardless of
    filter false positives, so the oracle mirrors it as a plain
    NOT-IN on the (null-coalesced) canonical text, then reuses the
    incremental_match CTEs for the match stage. cluster_score (a
    sigmoid float) is excluded from the gate, matching the
    incremental_match oracle's rank-not-score convention; restart/
    checkpoint semantics are pinned by
    tests/test_streaming.py::test_crawl_pipeline_restart_resumes."""
    from ny_campaign_finance_dedupe_spark.streaming import crawl, incremental

    docs = _t(spark, sf_dir, "documents")
    pages = _documents_as_pages(docs.withColumn(
        "source", F.concat(F.col("source"), (F.col("doc_id") % 7).cast("string"))
    ))
    uid = F.regexp_extract(F.col("url"), r"/d/(\d+)$", 1).cast("long")
    history = pages.where(uid % 7 != 0)
    batch = pages.where(uid % 7 == 0)
    cfg = _portable_cfg()
    # history artifacts are built once and checkpointed (the production
    # epoch shape build_history_index documents) — without the barrier
    # the full history lineage (content-key UDF chain + bloom build +
    # blocking) re-executes for every consumer.
    keys, bidx = crawl.build_history_index(history, n_buckets=8)
    keys = keys.localCheckpoint()
    bidx = bidx.localCheckpoint()
    index = incremental.build_index(history, cfg).localCheckpoint()
    return (
        crawl.match_novel_batch(batch, keys, bidx, index, cfg)
        .select("record_id", "cluster_id", "matched")
        .orderBy("record_id")
    )


def q_salted_pairs(spark, sf_dir):
    """Skew-safe pair generation: hot-key bucket-grid salting MUST equal
    the plain blocking self-join (same oracle as
    blocking_first_token_pairs — that equality IS the check)."""
    docs = _t(spark, sf_dir, "documents")
    bm = blocking.build_blocking_map(
        docs, "doc_id", {"ft": keygen.first_token(F.col("text"))}
    )
    return pairs_ops.salted_candidate_pairs(bm, hot_threshold=20, salt=8).orderBy(
        "src", "dst"
    )


def q_identity_join(spark, sf_dir):
    """J5 (init_postgres_db.py:255-295): exact-identity join on
    null-coalesced multi-column equality — Spark's null-safe <=> is the
    idiomatic form of the reference's COALESCE(col,'') equality."""
    docs = _docs_with_planted_dupes(_t(spark, sf_dir, "documents"))
    a = docs.alias("a")
    b = docs.alias("b")
    return (
        a.join(
            b,
            F.col("a.text").eqNullSafe(F.col("b.text"))
            & F.col("a.lang").eqNullSafe(F.col("b.lang")),
        )
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
        .orderBy("src", "dst")
    )


def q_media_features(spark, sf_dir):
    """Multimodal plumbing: documents' bytes as an opaque binary payload
    -> deterministic feature extraction via mapInPandas (decode stubbed;
    schema/batching/null handling real — rows-only check)."""
    from ny_campaign_finance_dedupe_spark.operators import multimodal

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit("text/plain").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
    )
    out = multimodal.extract_media_features(media)
    return out.select(
        "media_id",
        F.size(F.col("features")).alias("feature_dim"),
        F.col("features")[0].isNotNull().alias("has_features"),
        # features[0]/[1] are payload statistics by contract — the
        # oracle recomputes them from the text bytes
        F.col("features")[0].cast("double").alias("f_len_bytes"),
        F.col("features")[1].cast("double").alias("f_spaces"),
    ).orderBy("media_id")


def q_normalize_canonical(spark, sf_dir):
    """N1/N3 + guarded N4 (full 20-group abbrev table) + N5 (org-name
    expansion) over documents, with deterministic planted abbreviations
    (every 5th doc) so the synonym table demonstrably fires."""
    docs = _t(spark, sf_dir, "documents")
    txt = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(F.col("text"), F.lit(" 123 main st ste 9 nyc")),
    ).otherwise(F.col("text"))
    ntext = normalize.expand_org_names(
        normalize.canonicalize_abbrev(normalize.normalize_text(txt))
    )
    return docs.select(
        F.col("doc_id").alias("record_id"), ntext.alias("ntext")
    ).orderBy("record_id")


def q_editdist_pairs(spark, sf_dir):
    """LevenshteinCanopy analog: deletion-neighborhood blocking + exact
    levenshtein<=1 filter on 12-char key prefixes. Candidate recall is
    total at distance 1, so the oracle is the all-pairs predicate."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.edit_distance_pairs(
        docs, "doc_id", "text", key_len=12, max_dist=1
    ).orderBy("src", "dst")


def q_carry_forward(spark, sf_dir):
    """Cluster-id carry-forward (post_processing/add_cluster_ids.py):
    run-N = fingerprint clusters, run-N+1 = exact-text clusters over the
    planted-dupe corpus; stable ids by max member overlap."""
    docs = _t(spark, sf_dir, "documents")
    prev = q_fingerprint_clusters(spark, sf_dir)
    cur = (
        dedup.exact_duplicates(
            _docs_with_planted_dupes(docs), "doc_id", "text"
        )
        .select("record_id", "cluster_id")
    )
    return clustering.carry_forward_cluster_ids(prev, cur).orderBy("record_id")


def q_set_keys(spark, sf_dir):
    """Set-predicate family end-to-end (predicates.py:485-518): whole
    set, first/last sorted element, sorted-element 2/3-gram counts over
    the distinct-token set of each document."""
    docs = _t(spark, sf_dir, "documents")
    toks = keygen.tokens(F.col("text"))

    def ifnn(c):  # null text -> null output (mirror the oracle's CASE)
        return F.when(F.col("text").isNull(), F.lit(None)).otherwise(c)

    return docs.select(
        F.col("doc_id").alias("record_id"),
        ifnn(F.get(keygen.whole_set(toks), 0)).alias("ws"),
        ifnn(F.get(keygen.first_set_element(toks), 0)).alias("fse"),
        ifnn(F.get(keygen.last_set_element(toks), 0)).alias("lse"),
        ifnn(F.size(keygen.common_two_elements(toks))).alias("n_pairs2"),
        ifnn(F.size(keygen.common_three_elements(toks))).alias("n_trip3"),
    ).orderBy("record_id")


def q_biggest_clusters(spark, sf_dir):
    """A4 (campaign_finance_dedupe.py:419-428): top-10 clusters by size
    over the fingerprint entity map."""
    em = q_fingerprint_clusters(spark, sf_dir)
    return reports.biggest_clusters(em, n=10)


def q_predicate_costs(spark, sf_dir):
    """T6 (dedupe/training.py:223-226): per-predicate comparison-count
    extrapolation from a sample's block profile (sample = the fixture,
    full = 2x — a deterministic ratio)."""
    docs = _t(spark, sf_dir, "documents")
    n = docs.count()
    return training.predicate_costs(
        docs,
        "doc_id",
        {
            "ft": keygen.first_token(F.col("text")),
            "fp": keygen.fingerprint(F.col("text")),
        },
        full_count=2 * n,
        sample_count=n,
    ).orderBy("predicate")


def q_er_pipeline(spark, sf_dir):
    """The flagship three-stage ER pipeline over documents-as-pages, in
    the portable-hash configuration so the WHOLE pipeline — normalize,
    signatures, blocking, cap, scoring, connected components, singletons
    — is recomputed end-to-end by the DuckDB oracle. The xxhash64 fast
    configuration (bench path) runs the identical plan."""
    docs = _t(spark, sf_dir, "documents")
    pages = _documents_as_pages(docs)
    store = CheckpointStore(_scratch_mkdtemp("nycfd_q_"))
    pipe = DedupePipeline(_portable_cfg(), store)
    em = pipe.run(spark, pages)
    return em.select("record_id", "cluster_id").orderBy("record_id")


def q_fuzzy_decontaminate(spark, sf_dir):
    """Overlap-ratio benchmark decontamination (dedup.contamination_overlap
    / decontaminate_fuzzy — the PaLM/Llama-2-style graded rule): per-doc
    fraction of distinct 8-word grams shared with the pseudo-benchmark
    (doc_id % 97 == 0 rows), plus the keep/drop verdict at
    max_overlap=0.3. Same scale shape as decontaminate (broadcast bench
    hashes, ids+hashes corpus side, one agg); the oracle recomputes the
    ratio from the gram CTEs. The filter-form operator
    (decontaminate_fuzzy) is pinned equal to kept=true by
    tests/test_dedup_ops.py."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    stats = dedup.contamination_overlap(
        docs, "doc_id", "text", bench, "text", n=8
    )
    return stats.select(
        "record_id",
        "n_grams",
        "n_hit",
        "overlap",
        (F.col("overlap") <= 0.3).alias("kept"),
    ).orderBy("record_id")


def q_hot_ngrams(spark, sf_dir):
    """Boilerplate heavy-hitters (dedup.hot_ngrams): top-20 word
    3-grams by document frequency, (doc_freq DESC, gram ASC) total
    order. Map-side partial agg collapses hot grams per task;
    orderBy+limit is TakeOrderedAndProject, not a global sort."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.hot_ngrams(docs, "text", n=3, top_k=20)


def q_best_of_cluster(spark, sf_dir):
    """Quality-aware canonical selection (refine.keep_best): cluster by
    sorted-distinct-token fingerprint (the fingerprint_clusters key),
    label by min member id, then keep the member with the most raw
    characters (ties -> lowest id) — the keep-best-copy rule applied
    after dedup (longest/highest-quality member, not an arbitrary one).
    Single groupBy with max(struct) — partial agg, no window sort."""
    docs = _t(spark, sf_dir, "documents")
    fp = docs.select(
        F.col("doc_id").alias("record_id"),
        F.col("n_chars"),
        textstats.doc_fingerprint(F.col("text")).alias("fp"),
    )
    labels = fp.groupBy("fp").agg(F.min("record_id").alias("cluster_id"))
    clustered = fp.join(labels, "fp").select(
        "cluster_id", "record_id", "n_chars"
    )
    best = refine.keep_best(clustered, "cluster_id", "record_id", "n_chars")
    return best.select(
        "cluster_id",
        F.col("record_id").alias("keeper_id"),
        "n_chars",
        "members",
    ).orderBy("cluster_id")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordering policy (round 5, standing): least-recently-driver-checked
    # FIRST.  The driver's correctness harness caps at the first 50
    # entries, so the dict rotates each round: entries with no row in the
    # latest CORRECTNESS_r{N}.json lead, then the rest oldest-check-first.
    # The displaced tail is re-verified locally with
    # tools/check_oracles.py and recorded in COVERAGE.md.
    return {
        # -- brand-new in r5 (never driver-checked) --
        "crawl_entity_map": q_crawl_entity_map,
        # -- no CORRECTNESS_r04 row (past the 50-query cap) — lead r5 --
        "identity_join": q_identity_join,
        "salted_pairs": q_salted_pairs,
        "media_features": q_media_features,
        "greedy_link": q_greedy_link,
        "hac_refine": q_hac_refine,
        "phonetic_keys": q_phonetic_keys,
        "metaphone_keys": q_metaphone_keys,
        "incremental_match": q_incremental_match,
        "normalize_canonical": q_normalize_canonical,
        "set_keys": q_set_keys,
        "biggest_clusters": q_biggest_clusters,
        "predicate_costs": q_predicate_costs,
        "editdist_pairs": q_editdist_pairs,
        "carry_forward": q_carry_forward,
        # -- checked green in r04, rotated behind the stale 14 --
        "exact_dedup_clusters": q_exact_dedup_clusters,
        "fingerprint_clusters": q_fingerprint_clusters,
        "blocking_first_token_pairs": q_blocking_first_token_pairs,
        "ngram_jaccard_dedup": q_ngram_jaccard_dedup,
        "winnow_fingerprints": q_winnow_fingerprints,
        "winnow_neardup": q_winnow_neardup,
        "cc_jaccard_clusters": q_cc_jaccard_clusters,
        "token_stats": q_token_stats,
        "quality_score": q_quality_score,
        "lang_id": q_lang_id,
        "normalize_project": q_normalize_project,
        "typecode_decode": q_typecode_decode,
        "json_extract": q_json_extract,
        "window_topk_per_user": q_window_topk_per_user,
        "top_entities": q_top_entities,
        "cluster_size_histogram": q_cluster_size_histogram,
        "run_stats": q_run_stats,
        "canonical_mode": q_canonical_mode,
        "pricing_summary": q_pricing_summary,
        "embedding_neardup": q_embedding_neardup,
        "ann_topk": q_ann_topk,
        "minhash_dedup": q_minhash_dedup,
        "simhash_dedup": q_simhash_dedup,
        "lsh_ann_topk": q_lsh_ann_topk,
        "ivf_ann_topk": q_ivf_ann_topk,
        "semantic_dedup": q_semantic_dedup,
        "url_dedup": q_url_dedup,
        "segment_dedup": q_segment_dedup,
        "passage_dedup": q_passage_dedup,
        "bloom_novelty": q_bloom_novelty,
        "lm_score": q_lm_score,
        "c4_clean": q_c4_clean,
        "stratified_sample": q_stratified_sample,
        "temperature_mix": q_temperature_mix,
        "repetition_stats": q_repetition_stats,
        "clean_corpus": q_clean_corpus,
        "pii_redact": q_pii_redact,
        "decontaminate": q_decontaminate,
        "fuzzy_decontaminate": q_fuzzy_decontaminate,
        "hot_ngrams": q_hot_ngrams,
        "best_of_cluster": q_best_of_cluster,
        "shard_counts": q_shard_counts,
        "pack_sequences": q_pack_sequences,
        "quality_classifier": q_quality_classifier,
        "er_pipeline": q_er_pipeline,
        "canonical_centroid": q_canonical_centroid,
        "gazetteer_topk": q_gazetteer_topk,
        "predicate_cover": q_predicate_cover,
        "keygen_text": q_keygen_text,
        "hundred_buckets": q_hundred_buckets,
    }


# ---------------------------------------------------------------------------
# oracles (DuckDB SQL over pre-registered views)
# ---------------------------------------------------------------------------

_NORM = (
    "nullif(trim(regexp_replace(regexp_replace(lower({c}), '[^\\w\\s]+', ' ', 'g'),"
    " '\\s+', ' ', 'g')), '')"
)

_GRAMS_BODY = """
w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
g0 AS (
  SELECT DISTINCT doc_id, UNNEST(list_transform(
    generate_series(1, greatest(len(words) - 2, 0)),
    i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS gram
  FROM w
),
-- canopy stop-word cap (dedup.default_df_cap): drop shingles present in
-- more than least(max(1000, floor(0.05 * n_docs)), ABS_DF_CAP) documents
capv AS (SELECT least(greatest(1000, CAST(floor(0.05 * COUNT(*)) AS BIGINT)),
                      {abs_cap}) AS cap
         FROM documents),
hotg AS (SELECT gram FROM g0 GROUP BY gram
         HAVING COUNT(*) > (SELECT cap FROM capv)),
g AS (SELECT * FROM g0 WHERE gram NOT IN (SELECT gram FROM hotg)),
n AS (SELECT doc_id, COUNT(*) AS ng FROM g GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS src, b.doc_id AS dst, COUNT(*) AS shared
  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT s.src, s.dst,
         s.shared::DOUBLE / (na.ng + nb.ng - s.shared) AS jaccard
  FROM shared s
  JOIN n na ON na.doc_id = s.src
  JOIN n nb ON nb.doc_id = s.dst
)
"""

_GRAMS_BODY = _GRAMS_BODY.replace("{abs_cap}", str(dedup.ABS_DF_CAP))
_GRAMS = "WITH " + _GRAMS_BODY
_GRAMS_REC = "WITH RECURSIVE " + _GRAMS_BODY

# Winnowing fingerprint CTEs (textstats.winnow_fingerprints, portable
# hash60 family): per-position k-gram md5-hash list, w-window minima,
# sorted distinct selection. Mirrors the Spark expression branch for
# branch: NULL text -> NULL, empty -> [], shorter than k -> whole-text
# gram, <= w hashes -> one window.
_WINNOW_BODY = """
wg AS (SELECT doc_id,
        CASE WHEN text IS NULL THEN NULL
             WHEN len(text) = 0 THEN CAST([] AS BIGINT[])
             WHEN len(text) < {k}
               THEN [CAST(concat('0x', substring(md5(text), 1, 15)) AS BIGINT)]
             ELSE list_transform(range(1, len(text)-{k}+2),
                    i -> CAST(concat('0x',
                          substring(md5(substring(text, i, {k})), 1, 15))
                         AS BIGINT))
        END AS hs
       FROM documents),
ww AS (SELECT doc_id,
        CASE WHEN hs IS NULL THEN NULL
             WHEN len(hs) = 0 THEN CAST([] AS BIGINT[])
             WHEN len(hs) <= {w} THEN [list_min(hs)]
             ELSE list_transform(range(1, len(hs)-{w}+2),
                    j -> list_min(list_slice(hs, j, j+{w}-1)))
        END AS wins
       FROM wg),
wfp AS (SELECT DISTINCT doc_id, unnest(wins) AS fp FROM ww)
"""


def _winnow_sql(k: int, w: int) -> str:
    return "WITH " + _WINNOW_BODY.replace("{k}", str(k)).replace(
        "{w}", str(w)
    )


def _winnow_neardup_sql(k: int, w: int, threshold: float) -> str:
    """df-capped fingerprint-postings self-join + set Jaccard — the SQL
    twin of dedup.winnow_jaccard_pairs (cap rule mirrors _GRAMS/capv)."""
    return (
        _winnow_sql(k, w)
        + f""",
        capv AS (SELECT least(greatest(1000,
                           CAST(floor(0.05 * COUNT(*)) AS BIGINT)),
                         {dedup.ABS_DF_CAP}) AS cap
                 FROM documents),
        hot AS (SELECT fp FROM wfp GROUP BY fp
                HAVING COUNT(*) > (SELECT cap FROM capv)),
        kept AS (SELECT doc_id, fp FROM wfp
                 WHERE fp NOT IN (SELECT fp FROM hot)),
        cnt AS (SELECT doc_id, COUNT(*) AS ng FROM kept GROUP BY doc_id),
        sh AS (SELECT a.doc_id AS src, b.doc_id AS dst,
                      COUNT(*) AS shared
               FROM kept a JOIN kept b ON a.fp = b.fp
               WHERE a.doc_id < b.doc_id
               GROUP BY a.doc_id, b.doc_id)
        SELECT sh.src, sh.dst,
               CAST(shared AS DOUBLE) / (ca.ng + cb.ng - shared) AS jaccard
        FROM sh JOIN cnt ca ON ca.doc_id = sh.src
                JOIN cnt cb ON cb.doc_id = sh.dst
        WHERE CAST(shared AS DOUBLE) / (ca.ng + cb.ng - shared)
              >= {threshold}
        ORDER BY src, dst
        """
    )

_FP = (
    "array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')"
)


def _feat_z_sql(a: str, b: str) -> str:
    """The scoring linear term z = bias + w.f over two ntext columns —
    exact SQL mirror of scoring.feature_columns + LogisticModel (same
    expression tree order, so the float result is bit-identical;
    sigmoid(z) >= 0.5 <=> z >= 0 exactly). f_missing is 0 by
    construction: blocked records always have non-null ntext."""
    sa = f"list_distinct(string_split({a}, ' '))"
    sb = f"list_distinct(string_split({b}, ' '))"
    inter = f"CAST(len(list_intersect({sa}, {sb})) AS DOUBLE)"
    na = f"CAST(len({sa}) AS DOUBLE)"
    nb = f"CAST(len({sb}) AS DOUBLE)"
    fc = f"({inter} / sqrt({na} * {nb}))"
    fj = f"({inter} / ({na} + {nb} - {inter}))"
    pa = f"substring({a}, 1, 120)"
    pb = f"substring({b}, 1, 120)"
    lnp = (
        f"(least(length({pa}), length({pb}))"
        f" / greatest(length({pa}), length({pb}), 1))"
    )
    lev = (
        f"(CASE WHEN {lnp} < 0.4 THEN 0.0 ELSE 1.0 - levenshtein({pa}, {pb})"
        f" / greatest(length({pa}), length({pb}), 1) END)"
    )
    fn = (
        f"(least(length({a}), length({b}))"
        f" / greatest(length({a}), length({b}), 1))"
    )
    return f"(-7.0 + 6.0 * {fc} + 4.0 * {fj} + 4.0 * {lev} + 1.0 * {fn})"


def _er_prefix_sql(pages_select: str, cap: int = 100) -> str:
    """Shared oracle prefix mirroring the portable DedupePipeline over a
    ``pages(url, t, sd)`` selection: normalize (N1/N3 + guarded N4 + N5)
    -> portable minhash(16)/simhash32 signatures -> exact + mh-band +
    domain:simhash-band blocking keys -> per-side block cap -> ``bmk``.
    ``sd`` is the dataset side (0 = corpus/index, 1 = query batch)."""
    norm = _NORM.format(c="t")
    canon_ctes, canon_final = normalize.sql_canonicalize_ctes("norm0", "t")
    mh_arms = "\n  UNION\n".join(
        f"  SELECT e.sd, s.url, 'mh|mh{i}_' || CAST(s.s{2 * i} AS VARCHAR)"
        f" || '_' || CAST(s.s{2 * i + 1} AS VARCHAR) AS block_key"
        f" FROM sig s JOIN ex e USING (url)"
        for i in range(8)
    )
    sh_arms = "\n  UNION\n".join(
        f"  SELECT e.sd, sh.url, 'dom_sh|' || hst.dom || ':sh{i}:' ||"
        f" CAST((sh.simhash >> {8 * i}) & 255 AS VARCHAR) AS block_key"
        f" FROM sh JOIN hst USING (url) JOIN ex e USING (url)"
        for i in range(4)
    )
    return f"""
        pages AS ({pages_select}),
        norm0 AS (SELECT url, sd, {norm} AS t FROM pages),
        {canon_ctes},
        ex AS MATERIALIZED (SELECT url, sd, t AS ntext FROM {canon_final}),
        w AS (SELECT url, string_split(ntext, ' ') AS words
              FROM ex WHERE ntext IS NOT NULL),
        g AS MATERIALIZED (
          SELECT DISTINCT url, UNNEST(list_transform(
            generate_series(1, greatest(len(words) - 2, 0)),
            i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS gram
          FROM w
        ),
        h AS MATERIALIZED (SELECT url,
                     {portable.sql_hash60('gram')} % {portable.P} AS hv,
                     ({portable.sql_hash60('gram')} & 4294967295) AS hv32
              FROM g),
        sig AS MATERIALIZED (SELECT url, {portable.sql_minhash_cols(16)}
                FROM h GROUP BY url),
        sh AS MATERIALIZED (SELECT url, {portable.sql_simhash32('hv32', 'COUNT(*)')}
                      AS simhash
               FROM h GROUP BY url),
        hst AS (SELECT url,
                       regexp_replace(lower(regexp_extract(url,
                         '^[a-z]+://([^/:?#]+)', 1)), '^www\\.', '') AS dom
                FROM ex),
        bm AS MATERIALIZED (
          SELECT sd, url, 'exact|' || ntext AS block_key
          FROM ex WHERE ntext IS NOT NULL
          UNION
        {mh_arms}
          UNION
        {sh_arms}
        ),
        keep AS (SELECT sd, block_key FROM bm GROUP BY sd, block_key
                 HAVING COUNT(*) <= {cap}),
        bmk AS MATERIALIZED (SELECT bm.* FROM bm JOIN keep USING (sd, block_key))
    """


def _normalize_canonical_sql() -> str:
    norm = _NORM.format(c="t")
    ctes, final = normalize.sql_canonicalize_ctes("norm0", "t")
    return f"""
        WITH base AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 5 = 0
                      THEN text || ' 123 main st ste 9 nyc'
                      ELSE text END AS t
          FROM documents
        ),
        norm0 AS (SELECT doc_id, {norm} AS t FROM base),
        {ctes}
        SELECT doc_id AS record_id, t AS ntext FROM {final}
        ORDER BY record_id
    """


def _er_pipeline_sql() -> str:
    pages = """
        SELECT 'https://' || source || '.example.com/d/'
                 || CAST(doc_id AS VARCHAR) AS url,
               text AS t, 0 AS sd
        FROM documents
    """
    z = _feat_z_sql("pa.ntext", "pb.ntext")
    return f"""
        WITH RECURSIVE
        {_er_prefix_sql(pages)},
        prs AS MATERIALIZED (SELECT DISTINCT l.url AS src, r.url AS dst
                FROM bmk l JOIN bmk r
                  ON l.block_key = r.block_key AND l.url < r.url),
        e AS MATERIALIZED (SELECT prs.src, prs.dst
              FROM prs
              JOIN ex pa ON pa.url = prs.src
              JOIN ex pb ON pb.url = prs.dst
              WHERE {z} >= 0.0),
        und AS (SELECT src AS a, dst AS b FROM e
                UNION SELECT dst, src FROM e),
        reach(node, other) AS (
          SELECT url, url FROM pages
          UNION
          SELECT r.node, u.b FROM reach r JOIN und u ON u.a = r.other
        )
        SELECT node AS record_id, MIN(other) AS cluster_id
        FROM reach GROUP BY node ORDER BY record_id
    """


def _incremental_match_sql() -> str:
    pages = """
        SELECT 'https://' || source || CAST(doc_id % 7 AS VARCHAR)
                 || '.example.com/d/' || CAST(doc_id AS VARCHAR) AS url,
               text AS t,
               CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS sd
        FROM documents
    """
    z = _feat_z_sql("pa.ntext", "pb.ntext")
    return f"""
        WITH
        {_er_prefix_sql(pages)},
        cand AS MATERIALIZED (SELECT DISTINCT q.url AS query_url, i.url AS match_url
                 FROM bmk q JOIN bmk i ON q.block_key = i.block_key
                 WHERE q.sd = 1 AND i.sd = 0),
        sc AS MATERIALIZED (SELECT cand.query_url, cand.match_url, {z} AS z
               FROM cand
               JOIN ex pa ON pa.url = cand.query_url
               JOIN ex pb ON pb.url = cand.match_url
               WHERE {z} >= 0.0)
        SELECT query_url, match_url, rank FROM (
          SELECT query_url, match_url,
                 ROW_NUMBER() OVER (PARTITION BY query_url
                   ORDER BY z DESC, match_url) AS rank
          FROM sc) WHERE rank <= 1
        ORDER BY query_url
    """


def _crawl_entity_map_sql(cap: int = 100) -> str:
    """Composed crawl oracle: exact novelty (the Bloom stage's RESULT is
    exact by construction, so the mirror is a NOT-IN on the
    null-coalesced canonical text — content-hash equality modulo sha2
    collisions, the repo's standing hash convention) followed by the
    incremental_match CTEs restricted to novel queries, then the
    adopt-or-found COALESCE."""
    pages = """
        SELECT 'https://' || source || CAST(doc_id % 7 AS VARCHAR)
                 || '.example.com/d/' || CAST(doc_id AS VARCHAR) AS url,
               text AS t,
               CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS sd
        FROM documents
    """
    z = _feat_z_sql("pa.ntext", "pb.ntext")
    return f"""
        WITH
        {_er_prefix_sql(pages, cap)},
        histk AS MATERIALIZED (SELECT DISTINCT coalesce(ntext, url) AS k
                 FROM ex WHERE sd = 0),
        novel AS MATERIALIZED (
          SELECT url FROM ex WHERE sd = 1
            AND coalesce(ntext, url) NOT IN (SELECT k FROM histk)),
        -- the engine filters to novel pages BEFORE blocking, so the
        -- batch side's block cap counts NOVEL members only (a block
        -- crowded with suppressed re-crawls must not be dropped).
        -- Re-cap bm over the novel subset at the same cap as bmk
        -- instead of reusing bmk's full-batch cap.
        keepn AS MATERIALIZED (
          SELECT bm.block_key FROM bm JOIN novel n ON n.url = bm.url
          WHERE bm.sd = 1
          GROUP BY bm.block_key HAVING COUNT(*) <= {cap}),
        bmn AS MATERIALIZED (
          SELECT bm.url, bm.block_key FROM bm
          JOIN novel n ON n.url = bm.url
          JOIN keepn USING (block_key)
          WHERE bm.sd = 1),
        cand AS MATERIALIZED (SELECT DISTINCT q.url AS query_url, i.url AS match_url
                 FROM bmn q JOIN bmk i ON q.block_key = i.block_key
                 WHERE i.sd = 0),
        sc AS MATERIALIZED (SELECT cand.query_url, cand.match_url, {z} AS z
               FROM cand
               JOIN ex pa ON pa.url = cand.query_url
               JOIN ex pb ON pb.url = cand.match_url
               WHERE {z} >= 0.0),
        best AS (SELECT query_url, match_url FROM (
                   SELECT query_url, match_url,
                          ROW_NUMBER() OVER (PARTITION BY query_url
                            ORDER BY z DESC, match_url) AS rnk
                   FROM sc) WHERE rnk = 1)
        SELECT n.url AS record_id,
               coalesce(b.match_url, n.url) AS cluster_id,
               b.match_url IS NOT NULL AS matched
        FROM novel n LEFT JOIN best b ON b.query_url = n.url
        ORDER BY record_id
    """


def _greedy_link_sql(rounds: int = 16) -> str:
    """Unrolled locally-dominant-edge matching: round k accepts every
    edge that is simultaneously its src's and dst's best remaining edge
    under (score desc, src, dst), then removes matched endpoints —
    exactly linkage.greedy_one_to_one's iteration. The fixture converges
    in far fewer than ``rounds`` iterations; extra rounds are no-ops
    (empty dominants), so over-unrolling is harmless."""
    base = """
        WITH b AS (SELECT doc_id, text, split_part(text, ' ', 1) AS k
                   FROM documents WHERE text IS NOT NULL
                     AND split_part(text, ' ', 1) <> ''),
        cand AS (SELECT DISTINCT q.doc_id AS src, i.doc_id AS dst,
                        q.text AS ta, i.text AS tb
                 FROM b q JOIN b i ON q.k = i.k
                 WHERE q.doc_id % 7 = 0 AND i.doc_id % 7 <> 0),
        sc AS (SELECT src, dst,
                 len(list_intersect(list_distinct(string_split(ta, ' ')),
                                    list_distinct(string_split(tb, ' '))))::DOUBLE
                 / (len(list_distinct(string_split(ta, ' ')))
                    + len(list_distinct(string_split(tb, ' ')))
                    - len(list_intersect(list_distinct(string_split(ta, ' ')),
                                         list_distinct(string_split(tb, ' ')))))
                 AS score
               FROM cand),
        rem0 AS MATERIALIZED (SELECT src, dst, score FROM sc
                              WHERE score >= 0.3)
    """
    # each round references the previous one several times; MATERIALIZED
    # stops DuckDB's CTE inlining from going exponential in `rounds`
    parts = []
    for k in range(1, rounds + 1):
        parts.append(
            f"""
        dom{k} AS MATERIALIZED (
          SELECT src, dst FROM (
            SELECT src, dst,
              ROW_NUMBER() OVER (PARTITION BY src
                ORDER BY score DESC, src, dst) AS rs,
              ROW_NUMBER() OVER (PARTITION BY dst
                ORDER BY score DESC, src, dst) AS rd
            FROM rem{k - 1}) WHERE rs = 1 AND rd = 1),
        rem{k} AS MATERIALIZED (
          SELECT * FROM rem{k - 1}
          WHERE src NOT IN (SELECT src FROM dom{k})
            AND dst NOT IN (SELECT dst FROM dom{k}))"""
        )
    union = " UNION ALL ".join(
        f"SELECT src, dst FROM dom{k}" for k in range(1, rounds + 1)
    )
    # unconverged-remnant sentinel: if rem{rounds} is non-empty the
    # unroll was too shallow — emit an impossible (-1,-1) row so the gate
    # fails LOUDLY on a depth shortfall instead of silently missing the
    # pairs the Spark side (which always runs to convergence) returns
    poison = (
        f" UNION ALL (SELECT -1 AS src, -1 AS dst FROM rem{rounds} LIMIT 1)"
    )
    return (
        base + "," + ",".join(parts)
        + f" SELECT src, dst FROM ({union}{poison}) ORDER BY src, dst"
    )


def _lsh_planes_values(dim: int = 64, bands: int = 8, bits: int = 8) -> str:
    """VALUES rows (b, i, [±1 x dim]) for the portable LSH planes."""
    signs = portable.plane_signs(dim, bands, bits)
    rows = []
    for b in range(bands):
        for i in range(bits):
            s = signs[b * bits + i]
            rows.append(f"({b}, {i}, {s})")
    return ",\n".join(rows)


# dedup.segment_text + segment_dedup mirrored as shareable CTEs
# (consumed by the segment_dedup oracle and the clean_corpus composite)
_SEG_CTES = r"""
w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
-- dedup.segment_text: non-overlapping 10-word windows,
-- last partial (list slices clip at both engines)
g AS (
  SELECT doc_id, u.pos AS pos, u.seg AS seg FROM (
    SELECT doc_id, UNNEST(list_transform(
      generate_series(1, CAST((len(words) + 9) // 10 AS BIGINT)),
      i -> struct_pack(pos := i,
        seg := array_to_string(
          words[(i-1)*10+1:(i-1)*10+10], ' ')))) AS u
    FROM w)
),
hot AS (SELECT seg FROM (SELECT DISTINCT doc_id, seg FROM g)
        GROUP BY seg HAVING COUNT(*) > 1),
kept AS (SELECT doc_id, pos, seg FROM g
         WHERE seg NOT IN (SELECT seg FROM hot)),
agg AS (SELECT doc_id,
               string_agg(seg, ' ' ORDER BY pos) AS clean_text,
               COUNT(*) AS n_kept
        FROM kept GROUP BY doc_id),
tot AS (SELECT doc_id, COUNT(*) AS n_seg FROM g GROUP BY doc_id)
"""


def oracle_sql() -> dict[str, str]:
    sw = ", ".join(f"'{w}'" for w in textstats.EN_STOPWORDS)
    langs = {
        code: ", ".join(f"'{w}'" for w in ws)
        for code, ws in textstats.LANG_STOPWORDS.items()
    }
    # mirror textstats.lang_id: strict > scanning codes alphabetically
    vote = {
        code: rf"len(list_filter(regexp_extract_all(lower(text), '\S+'),"
        f" t -> list_contains([{langs[code]}], t)))"
        for code in langs
    }
    return {
        "exact_dedup_clusters": """
            WITH d2 AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 10000000 AS doc_id, text
              FROM documents WHERE doc_id % 50 = 0
            )
            SELECT d.doc_id AS record_id, g.cluster_id, g.cluster_size
            FROM d2 d
            JOIN (SELECT text, MIN(doc_id) AS cluster_id,
                         COUNT(*) AS cluster_size
                  FROM d2 GROUP BY text) g
              ON d.text IS NOT DISTINCT FROM g.text
            ORDER BY record_id
        """,
        "fingerprint_clusters": f"""
            WITH fp AS (SELECT doc_id AS record_id, {_FP} AS f FROM documents)
            SELECT record_id, MIN(record_id) OVER (PARTITION BY f) AS cluster_id
            FROM fp ORDER BY record_id
        """,
        "blocking_first_token_pairs": """
            WITH b AS (
              SELECT doc_id, split_part(text, ' ', 1) AS k
              FROM documents WHERE text IS NOT NULL
                AND split_part(text, ' ', 1) <> ''
            )
            SELECT DISTINCT l.doc_id AS src, r.doc_id AS dst
            FROM b l JOIN b r ON l.k = r.k AND l.doc_id < r.doc_id
            ORDER BY src, dst
        """,
        "ngram_jaccard_dedup": _GRAMS
        + "SELECT src, dst, jaccard FROM jac WHERE jaccard >= 0.8 ORDER BY src, dst",
        "winnow_fingerprints": _winnow_sql(WINNOW_K, WINNOW_W)
        + """SELECT doc_id AS record_id, fp FROM wfp
             ORDER BY record_id, fp""",
        "winnow_neardup": _winnow_neardup_sql(WINNOW_K, WINNOW_W, 0.5),
        "cc_jaccard_clusters": _GRAMS_REC
        + """,
        e AS (SELECT src, dst FROM jac WHERE jaccard >= 0.8),
        und AS (SELECT src AS a, dst AS b FROM e
                UNION SELECT dst, src FROM e),
        reach(node, other) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT r.node, u.b FROM reach r JOIN und u ON u.a = r.other
        )
        SELECT node AS record_id, MIN(other) AS cluster_id
        FROM reach GROUP BY node ORDER BY record_id
        """,
        "token_stats": r"""
            SELECT doc_id AS record_id,
                   CASE WHEN text IS NULL THEN NULL
                        ELSE len(regexp_extract_all(text, '\S+')) END AS n_tokens,
                   CASE WHEN text IS NULL THEN NULL
                        ELSE len(regexp_extract_all(lower(text),
                             '[a-z]+|[0-9]+|[^a-z0-9\s]')) END AS n_bpe_tokens
            FROM documents ORDER BY record_id
        """,
        "quality_score": rf"""
            SELECT doc_id AS record_id,
                   CASE WHEN text IS NULL THEN NULL ELSE
                     0.5 * least(1.0,
                       len(list_filter(regexp_extract_all(lower(text), '\S+'),
                           t -> list_contains([{sw}], t)))::DOUBLE
                       / (0.04 * greatest(
                            len(regexp_extract_all(text, '\S+'))::DOUBLE, 1.0)))
                   + 0.5 * (length(regexp_replace(lower(text), '[^a-z]', '', 'g'))::DOUBLE
                       / greatest(length(text)::DOUBLE, 1.0))
                   END AS quality
            FROM documents ORDER BY record_id
        """,
        # winner = alphabetically-first code among argmax votes; 'und' if all 0
        # (mirrors textstats.lang_id's strict-> forward scan exactly)
        "lang_id": rf"""
            WITH v AS (
              SELECT doc_id, text,
                     {vote['de']} AS vde, {vote['en']} AS ven,
                     {vote['es']} AS ves, {vote['fr']} AS vfr
              FROM documents)
            SELECT doc_id AS record_id,
              CASE WHEN text IS NULL THEN NULL
                   WHEN greatest(vde, ven, ves, vfr) = 0 THEN 'und'
                   WHEN vde = greatest(vde, ven, ves, vfr) THEN 'de'
                   WHEN ven = greatest(vde, ven, ves, vfr) THEN 'en'
                   WHEN ves = greatest(vde, ven, ves, vfr) THEN 'es'
                   ELSE 'fr' END AS lang_pred
            FROM v ORDER BY record_id
        """,
        "normalize_project": f"""
            SELECT c_custkey AS record_id,
                   {_NORM.format(c='c_name')} AS nname,
                   nullif(trim(c_mktsegment), '') AS segment
            FROM customer
            WHERE c_mktsegment = 'BUILDING' AND c_name NOT LIKE '%unitem%'
            ORDER BY record_id
        """,
        "typecode_decode": """
            SELECT CASE event_type
                     WHEN 'click' THEN 1 WHEN 'view' THEN 2
                     WHEN 'purchase' THEN 3 WHEN 'signup' THEN 4
                     WHEN 'error' THEN 5 ELSE 0 END AS type_code,
                   COUNT(*) AS n
            FROM events GROUP BY 1 ORDER BY type_code
        """,
        "json_extract": """
            SELECT event_id AS record_id,
                   CAST(json_extract_string(props, '$.k') AS INT) AS k
            FROM events ORDER BY record_id
        """,
        "window_topk_per_user": """
            SELECT user_id, event_id, rank FROM (
              SELECT user_id, event_id,
                     ROW_NUMBER() OVER (PARTITION BY user_id
                                        ORDER BY value DESC, event_id) AS rank
              FROM events)
            WHERE rank <= 3 ORDER BY user_id, rank
        """,
        "top_entities": """
            WITH em AS (
              SELECT c.c_custkey AS record_id, g.cluster_id
              FROM customer c
              JOIN (SELECT c_mktsegment, MIN(c_custkey) AS cluster_id
                    FROM customer GROUP BY c_mktsegment) g USING (c_mktsegment)
            )
            SELECT COALESCE(em.cluster_id, o.o_custkey) AS canon_id,
                   CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))
                        AS DECIMAL(18,2)) AS total
            FROM orders o LEFT JOIN em ON em.record_id = o.o_custkey
            GROUP BY 1 ORDER BY total DESC, canon_id LIMIT 10
        """,
        "cluster_size_histogram": f"""
            WITH fp AS (SELECT doc_id AS record_id, {_FP} AS f FROM documents),
            em AS (SELECT record_id,
                          MIN(record_id) OVER (PARTITION BY f) AS cluster_id
                   FROM fp)
            SELECT cluster_id, COUNT(*) AS cluster_size
            FROM em GROUP BY cluster_id ORDER BY cluster_id
        """,
        "run_stats": f"""
            WITH fp AS (SELECT doc_id AS record_id, {_FP} AS f FROM documents),
            em AS (SELECT record_id,
                          MIN(record_id) OVER (PARTITION BY f) AS cluster_id
                   FROM fp),
            h AS (SELECT cluster_id, COUNT(*) AS cluster_size
                  FROM em GROUP BY cluster_id)
            SELECT MAX(cluster_size) AS biggest_cluster_size,
                   SUM(cluster_size)::DOUBLE / COUNT(*)::DOUBLE
                     AS avg_cluster_size,
                   COUNT(*) AS total_clusters,
                   CAST(SUM(cluster_size) AS BIGINT) AS total_records,
                   COUNT(*)::DOUBLE / SUM(cluster_size)::DOUBLE
                     AS cluster_record_ratio
            FROM h
        """,
        "canonical_mode": """
            SELECT cluster_id, canonical_value FROM (
              SELECT c_nationkey AS cluster_id, c_mktsegment AS canonical_value,
                     ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                        ORDER BY COUNT(*) DESC, c_mktsegment)
                       AS rn
              FROM customer WHERE c_mktsegment IS NOT NULL
              GROUP BY c_nationkey, c_mktsegment)
            WHERE rn = 1 ORDER BY cluster_id
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                     AS sum_qty,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                        AS DOUBLE) AS sum_base_price,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= DATE '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "embedding_neardup": """
            SELECT a.vec_id AS src, b.vec_id AS dst
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(
                    CAST(a.embedding AS DOUBLE[]),
                    CAST(b.embedding AS DOUBLE[])) >= 0.4
            ORDER BY src, dst
        """,
        "canonical_centroid": f"""
            WITH fp AS (SELECT doc_id, text, {_FP} AS f FROM documents),
            em AS (SELECT doc_id, text,
                          MIN(doc_id) OVER (PARTITION BY f) AS cluster_id
                   FROM fp),
            sizes AS (SELECT cluster_id, COUNT(*) AS n FROM em
                      GROUP BY cluster_id),
            cost AS (
              SELECT a.cluster_id, a.doc_id, a.text AS val,
                     SUM(levenshtein(a.text, b.text)) AS tot
              FROM em a JOIN em b
                ON a.cluster_id = b.cluster_id AND a.doc_id <> b.doc_id
              WHERE a.text IS NOT NULL
              GROUP BY a.cluster_id, a.doc_id, a.text),
            best AS (SELECT cluster_id, val AS canonical_value FROM (
                       SELECT cluster_id, val,
                              ROW_NUMBER() OVER (PARTITION BY cluster_id
                                ORDER BY tot, val, doc_id) AS rn
                       FROM cost) WHERE rn = 1),
            singles AS (SELECT em.cluster_id, em.text AS canonical_value
                        FROM em JOIN sizes USING (cluster_id) WHERE n = 1)
            SELECT cluster_id, canonical_value FROM best
            UNION ALL SELECT cluster_id, canonical_value FROM singles
            ORDER BY cluster_id
        """,
        "gazetteer_topk": """
            WITH b AS (SELECT doc_id, text, split_part(text, ' ', 1) AS k
                       FROM documents WHERE text IS NOT NULL
                         AND split_part(text, ' ', 1) <> ''),
            cand AS (SELECT DISTINCT q.doc_id AS src, i.doc_id AS dst,
                            q.text AS ta, i.text AS tb
                     FROM b q JOIN b i ON q.k = i.k
                     WHERE q.doc_id % 7 = 0 AND i.doc_id % 7 <> 0),
            sc AS (SELECT src, dst,
                     len(list_intersect(list_distinct(string_split(ta, ' ')),
                                        list_distinct(string_split(tb, ' '))))::DOUBLE
                     / (len(list_distinct(string_split(ta, ' ')))
                        + len(list_distinct(string_split(tb, ' ')))
                        - len(list_intersect(list_distinct(string_split(ta, ' ')),
                                             list_distinct(string_split(tb, ' ')))))
                     AS score
                   FROM cand)
            SELECT query_id, neighbor_id, rank FROM (
              SELECT src AS query_id, dst AS neighbor_id,
                     ROW_NUMBER() OVER (PARTITION BY src
                       ORDER BY score DESC, src, dst) AS rank
              FROM sc WHERE score > 0)
            WHERE rank <= 2 ORDER BY query_id, rank
        """,
        "predicate_cover": f"""
            WITH fpd AS (SELECT doc_id, {_FP} AS f FROM documents),
            t AS (SELECT a.doc_id AS src, b.doc_id AS dst
                  FROM fpd a JOIN fpd b
                    ON a.f = b.f AND a.doc_id < b.doc_id),
            bm AS (
              SELECT 'ft' AS predicate, split_part(text, ' ', 1) AS key, doc_id
              FROM documents WHERE text IS NOT NULL
                AND split_part(text, ' ', 1) <> ''
              UNION ALL
              SELECT 'fp',
                array_to_string(list_sort(list_distinct(
                  string_split(text, ' '))), ''), doc_id
              FROM documents WHERE text IS NOT NULL),
            co AS (SELECT DISTINCT l.predicate, l.doc_id AS src, r.doc_id AS dst
                   FROM bm l JOIN bm r
                     ON l.predicate = r.predicate AND l.key = r.key
                    AND l.doc_id < r.doc_id)
            SELECT co.predicate, co.src, co.dst
            FROM co JOIN t USING (src, dst)
            ORDER BY predicate, src, dst
        """,
        "keygen_text": r"""
            SELECT doc_id AS record_id,
              CASE WHEN text IS NULL THEN NULL ELSE
                array_to_string(list_sort(list_transform(
                  string_split(text, ' '), t -> t[1])), '') END AS acronym,
              CASE WHEN text IS NULL OR length(text) < 5 THEN NULL
                   ELSE text[1:5] END AS pfx5,
              CASE WHEN text IS NULL THEN 0 ELSE
                len(list_distinct(list_transform(
                  generate_series(1, greatest(length(text[1:100]) - 4, 0)),
                  i -> text[1:100][i:]))) END AS n_suffix_keys,
              CASE WHEN length(regexp_replace(text, '\s', '', 'g')) <= 1
                     THEN NULL ELSE
                array_to_string(list_sort(list_distinct(list_transform(
                  generate_series(1,
                    length(regexp_replace(text, '\s', '', 'g')) - 1),
                  i -> regexp_replace(text, '\s', '', 'g')[i:i+1]))), '')
              END AS fp2
            FROM documents ORDER BY record_id
        """,
        "hundred_buckets": """
            SELECT (o_orderkey // 100 * 100) AS bucket, COUNT(*) AS n
            FROM orders GROUP BY 1 ORDER BY bucket
        """,
        "salted_pairs": """
            WITH b AS (
              SELECT doc_id, split_part(text, ' ', 1) AS k
              FROM documents WHERE text IS NOT NULL
                AND split_part(text, ' ', 1) <> ''
            )
            SELECT DISTINCT l.doc_id AS src, r.doc_id AS dst
            FROM b l JOIN b r ON l.k = r.k AND l.doc_id < r.doc_id
            ORDER BY src, dst
        """,
        "identity_join": """
            WITH d2 AS (
              SELECT doc_id, text, lang FROM documents
              UNION ALL
              SELECT doc_id + 10000000 AS doc_id, text, lang
              FROM documents WHERE doc_id % 50 = 0
            )
            SELECT a.doc_id AS src, b.doc_id AS dst
            FROM d2 a JOIN d2 b
              ON a.text IS NOT DISTINCT FROM b.text
             AND a.lang IS NOT DISTINCT FROM b.lang
            WHERE a.doc_id < b.doc_id
            ORDER BY src, dst
        """,
        "normalize_canonical": _normalize_canonical_sql(),
        "set_keys": r"""
            WITH s AS (SELECT doc_id, text,
                              list_sort(list_filter(list_distinct(
                                string_split_regex(text, '\s+')),
                                x -> x <> '')) AS t
                       FROM documents)
            SELECT doc_id AS record_id,
                   CASE WHEN text IS NULL THEN NULL
                        ELSE array_to_string(t, ',') END AS ws,
                   CASE WHEN text IS NULL OR len(t) = 0 THEN NULL
                        ELSE t[1] END AS fse,
                   CASE WHEN text IS NULL OR len(t) = 0 THEN NULL
                        ELSE t[len(t)] END AS lse,
                   CASE WHEN text IS NULL THEN NULL
                        WHEN len(t) >= 2 THEN len(t) - 1 ELSE 0 END
                     AS n_pairs2,
                   CASE WHEN text IS NULL THEN NULL
                        WHEN len(t) >= 3 THEN len(t) - 2 ELSE 0 END
                     AS n_trip3
            FROM s ORDER BY record_id
        """,
        "biggest_clusters": f"""
            WITH fp AS (SELECT doc_id AS record_id, {_FP} AS f FROM documents),
            em AS (SELECT record_id,
                          MIN(record_id) OVER (PARTITION BY f) AS cluster_id
                   FROM fp),
            h AS (SELECT cluster_id, COUNT(*) AS cluster_size
                  FROM em GROUP BY cluster_id)
            SELECT cluster_id, cluster_size FROM h
            ORDER BY cluster_size DESC, cluster_id LIMIT 10
        """,
        "predicate_costs": """
            WITH n0 AS (SELECT COUNT(*) AS c FROM documents),
            bm AS (
              SELECT 'ft' AS predicate, split_part(text, ' ', 1) AS key,
                     doc_id
              FROM documents WHERE text IS NOT NULL
                AND split_part(text, ' ', 1) <> ''
              UNION ALL
              SELECT 'fp',
                array_to_string(list_sort(list_distinct(
                  string_split(text, ' '))), ''), doc_id
              FROM documents WHERE text IS NOT NULL
            ),
            pb AS (SELECT predicate, key, COUNT(*) AS n
                   FROM bm GROUP BY predicate, key)
            SELECT predicate,
                   SUM(n * (n - 1)) / 2
                     * ((SELECT CAST((2 * c) * (2 * c - 1) AS DOUBLE) FROM n0)
                        / (SELECT c * (c - 1) FROM n0)) AS est_comparisons
            FROM pb GROUP BY predicate ORDER BY predicate
        """,
        "editdist_pairs": """
            WITH kx AS (SELECT doc_id, substring(text, 1, 12) AS k
                        FROM documents
                        WHERE text IS NOT NULL AND length(text) > 0)
            SELECT a.doc_id AS src, b.doc_id AS dst,
                   levenshtein(a.k, b.k) AS dist
            FROM kx a JOIN kx b ON a.doc_id < b.doc_id
            WHERE levenshtein(a.k, b.k) <= 1
            ORDER BY src, dst
        """,
        "carry_forward": f"""
            WITH fp AS (SELECT doc_id AS record_id, {_FP} AS f
                        FROM documents),
            prev AS (SELECT record_id,
                            MIN(record_id) OVER (PARTITION BY f) AS prev_id
                     FROM fp),
            d2 AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 10000000 AS doc_id, text
              FROM documents WHERE doc_id % 50 = 0
            ),
            cur AS (SELECT d.doc_id AS record_id, g.cluster_id
                    FROM d2 d
                    JOIN (SELECT text, MIN(doc_id) AS cluster_id
                          FROM d2 GROUP BY text) g
                      ON d.text IS NOT DISTINCT FROM g.text),
            ov AS (SELECT cur.cluster_id, prev.prev_id,
                          COUNT(*) AS overlap
                   FROM cur JOIN prev USING (record_id)
                   GROUP BY cur.cluster_id, prev.prev_id),
            best_prev AS (SELECT cluster_id, prev_id, overlap FROM (
                            SELECT *, ROW_NUMBER() OVER (
                              PARTITION BY cluster_id
                              ORDER BY overlap DESC, prev_id) AS r
                            FROM ov) WHERE r = 1),
            winners AS (SELECT cluster_id, prev_id FROM (
                          SELECT *, ROW_NUMBER() OVER (
                            PARTITION BY prev_id
                            ORDER BY overlap DESC, cluster_id) AS r
                          FROM best_prev) WHERE r = 1),
            fb AS (SELECT c.cluster_id,
                          MIN(CASE WHEN cl.prev_id IS NULL
                                   THEN c.record_id END) AS free_min
                   FROM cur c
                   LEFT JOIN (SELECT prev_id FROM winners) cl
                          ON c.record_id = cl.prev_id
                   WHERE c.cluster_id NOT IN
                         (SELECT cluster_id FROM winners)
                   GROUP BY c.cluster_id),
            remap AS (SELECT fb.cluster_id,
                             CASE WHEN fb.cluster_id IN
                                       (SELECT prev_id FROM winners)
                                  THEN COALESCE(fb.free_min,
                                                LEAST(0, (SELECT MIN(prev_id)
                                                          FROM prev))
                                                - fb.cluster_id - 1)
                                  ELSE fb.cluster_id END AS new_id
                      FROM fb)
            SELECT cur.record_id,
                   COALESCE(w.prev_id, r.new_id) AS cluster_id
            FROM cur LEFT JOIN winners w USING (cluster_id)
                     LEFT JOIN remap r USING (cluster_id)
            ORDER BY record_id
        """,
        "er_pipeline": _er_pipeline_sql(),
        "incremental_match": _incremental_match_sql(),
        "crawl_entity_map": _crawl_entity_map_sql(),
        "greedy_link": _greedy_link_sql(24),
        # bounded-vocabulary truth-table join (the DM state machine has
        # no general SQL form, but the gate input has exactly 30 distinct
        # first tokens): INNER join so any fixture-vocabulary drift drops
        # rows and fails the gate loudly instead of silently passing
        "metaphone_keys": (
            "WITH lut(token, metaphone_key) AS (VALUES "
            + ", ".join(
                f"('{t}', '{k}')" for t, k in sorted(METAPHONE_VOCAB.items())
            )
            + r"""),
            ft AS (SELECT doc_id AS record_id,
                          regexp_extract(text, '^([\w'']+)', 1) AS tok
                   FROM documents)
            SELECT ft.record_id, lut.metaphone_key
            FROM ft JOIN lut ON ft.tok = lut.token
            ORDER BY record_id
            """
        ),
        "phonetic_keys": r"""
            WITH fw AS (SELECT doc_id,
                               regexp_extract(text, '^([\w'']+)', 1) AS w
                        FROM documents),
            l AS (SELECT doc_id,
                         regexp_replace(upper(w), '[^A-Z]+', '', 'g')
                           AS letters
                  FROM fw),
            d AS (SELECT doc_id, letters,
                         translate(letters,
                                   'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                                   '01230120022455012623010202') AS dg
                  FROM l),
            cd AS (SELECT doc_id, letters,
                          CASE WHEN length(dg) <= 1 THEN dg ELSE
                            list_reduce(
                              list_transform(generate_series(1, length(dg)),
                                             i -> dg[i:i]),
                              (acc, x) -> CASE WHEN
                                  substring(acc, length(acc), 1) = x
                                THEN acc ELSE acc || x END)
                          END AS coll
                   FROM d)
            SELECT doc_id AS record_id,
                   CASE WHEN letters IS NULL OR length(letters) = 0
                        THEN NULL
                        ELSE letters[1] || rpad(substring(
                               replace(substring(coll, 2), '0', ''),
                               1, 3), 3, '0')
                   END AS phonetic_key
            FROM cd ORDER BY record_id
        """,
        "media_features": """
            SELECT CAST(doc_id AS VARCHAR) AS media_id,
                   CASE WHEN text IS NULL THEN NULL ELSE 16 END
                     AS feature_dim,
                   text IS NOT NULL AS has_features,
                   CASE WHEN text IS NULL THEN NULL
                        ELSE CAST(octet_length(encode(text)) AS DOUBLE) END
                     AS f_len_bytes,
                   CASE WHEN text IS NULL THEN NULL
                        ELSE CAST(length(text)
                             - length(replace(text, ' ', '')) AS DOUBLE) END
                     AS f_spaces
            FROM documents ORDER BY media_id
        """,
        # single-linkage HAC cut at distance (1-0.9) == CC of the strong
        # subgraph; the distance comparison mirrors _hac_cut's
        # (1.0 - score) <= (1.0 - threshold) float-for-float
        "hac_refine": _GRAMS_REC
        + """,
        e05 AS (SELECT src, dst FROM jac WHERE jaccard >= 0.5),
        e09 AS (SELECT src, dst FROM jac
                WHERE (1.0 - jaccard) <= (1.0 - 0.9)),
        nodes AS (SELECT src AS id FROM e05 UNION SELECT dst FROM e05),
        und AS (SELECT src AS a, dst AS b FROM e09
                UNION SELECT dst, src FROM e09),
        reach(node, other) AS (
          SELECT id, id FROM nodes
          UNION
          SELECT r.node, u.b FROM reach r JOIN und u ON u.a = r.other
        )
        SELECT node AS record_id, MIN(other) AS cluster_id
        FROM reach GROUP BY node ORDER BY record_id
        """,
        "minhash_dedup": f"""
            WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
                       FROM documents WHERE text IS NOT NULL),
            g AS (
              SELECT DISTINCT doc_id, UNNEST(list_transform(
                generate_series(1, greatest(len(words) - 2, 0)),
                i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
                AS gram
              FROM w
            ),
            h AS (SELECT doc_id, {portable.sql_hash60('gram')} % {portable.P}
                         AS hv FROM g),
            sig AS (SELECT doc_id, {portable.sql_minhash_cols(16)}
                    FROM h GROUP BY doc_id),
            cand AS (
              SELECT a.doc_id AS src, b.doc_id AS dst,
                     {portable.sql_minhash_agree(16)} AS agree
              FROM sig a JOIN sig b
                ON a.doc_id < b.doc_id
               AND ({portable.sql_minhash_band_cond(8, 2)})
            )
            SELECT src, dst, agree / 16.0 AS est_jaccard
            FROM cand WHERE agree / 16.0 >= 0.5
            ORDER BY src, dst
        """,
        "simhash_dedup": f"""
            WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
                       FROM documents WHERE text IS NOT NULL),
            tk AS (
              SELECT DISTINCT doc_id, UNNEST(list_transform(
                generate_series(1, greatest(len(words) - 2, 0)),
                i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
                AS tok
              FROM w
            ),
            h AS (SELECT doc_id,
                         ({portable.sql_hash60('tok')} & 4294967295) AS hv
                  FROM tk),
            sh AS (SELECT doc_id,
                          {portable.sql_simhash32('hv', 'COUNT(*)')} AS simhash
                   FROM h GROUP BY doc_id)
            SELECT a.doc_id AS src, b.doc_id AS dst,
                   bit_count(xor(a.simhash, b.simhash)) AS hamming
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
            ORDER BY src, dst
        """,
        "lsh_ann_topk": f"""
            WITH planes(b, i, s) AS (VALUES
            {_lsh_planes_values(64, 8, 8)}
            ),
            qv AS (SELECT vec_id,
                          list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(floor(x * {portable.QUANT} + 0.5)
                                      AS BIGINT)) AS q,
                          CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
            proj AS (SELECT vec_id, b, i,
                            list_sum(list_transform(generate_series(1, 64),
                              j -> s[j] * q[j])) AS p
                     FROM qv, planes),
            pat AS (SELECT vec_id, b,
                           SUM(CASE WHEN p >= 0 THEN (1 << i) ELSE 0 END)
                             AS pat
                    FROM proj GROUP BY vec_id, b),
            cand AS (SELECT DISTINCT a.vec_id AS query_id,
                            c.vec_id AS neighbor_id
                     FROM pat a JOIN pat c ON a.b = c.b AND a.pat = c.pat
                     WHERE a.vec_id < 32 AND a.vec_id <> c.vec_id),
            sc AS (SELECT query_id, neighbor_id,
                          ROUND(list_cosine_similarity(qa.v, qb.v), 9)
                            AS cosine
                   FROM cand JOIN qv qa ON qa.vec_id = cand.query_id
                             JOIN qv qb ON qb.vec_id = cand.neighbor_id)
            SELECT query_id, neighbor_id, rank FROM (
              SELECT query_id, neighbor_id,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id) AS rank
              FROM sc) WHERE rank <= 3
            ORDER BY query_id, rank
        """,
        "ivf_ann_topk": """
            WITH cent AS (
              SELECT vec_id AS list_id, CAST(embedding AS DOUBLE[]) AS cv
              FROM embeddings ORDER BY vec_id LIMIT 16
            ),
            ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
            -- nearest-list assignment: quantized cosine, list-id ties
            assign AS (
              SELECT vec_id AS neighbor_id, list_id FROM (
                SELECT e.vec_id, c.list_id,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id
                         ORDER BY ROUND(list_cosine_similarity(e.v, c.cv), 9)
                           DESC, c.list_id) AS rn
                FROM ev e CROSS JOIN cent c) WHERE rn = 1
            ),
            probes AS (
              SELECT vec_id AS query_id, list_id FROM (
                SELECT e.vec_id, c.list_id,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id
                         ORDER BY ROUND(list_cosine_similarity(e.v, c.cv), 9)
                           DESC, c.list_id) AS rn
                FROM ev e CROSS JOIN cent c WHERE e.vec_id < 32)
              WHERE rn <= 4
            ),
            cand AS (
              SELECT p.query_id, a.neighbor_id
              FROM probes p JOIN assign a USING (list_id)
              WHERE p.query_id <> a.neighbor_id
            )
            SELECT query_id, neighbor_id, rank FROM (
              SELECT c.query_id, c.neighbor_id,
                     ROW_NUMBER() OVER (PARTITION BY c.query_id
                       ORDER BY ROUND(list_cosine_similarity(qa.v, qb.v), 9)
                         DESC, c.neighbor_id) AS rank
              FROM cand c JOIN ev qa ON qa.vec_id = c.query_id
                          JOIN ev qb ON qb.vec_id = c.neighbor_id)
            WHERE rank <= 3 ORDER BY query_id, rank
        """,
        "shard_counts": f"""
            SELECT shard, COUNT(*) AS n_docs, MIN(doc_id) AS min_id
            FROM (
              SELECT doc_id,
                     CAST({portable.sql_hash60(
                         "concat('shard:', CAST(doc_id AS VARCHAR))")}
                       % 16 AS INTEGER) AS shard
              FROM documents)
            GROUP BY shard ORDER BY shard
        """,
        "pack_sequences": f"""
            WITH base AS (
              SELECT doc_id AS record_id,
                     CAST({portable.sql_hash60(
                         "concat('pack-shard:', CAST(doc_id AS VARCHAR))")}
                       % 8 AS INTEGER) AS shard,
                     {portable.sql_hash60(
                         "concat('pack-order:', CAST(doc_id AS VARCHAR))")}
                       AS h,
                     CASE WHEN text IS NULL THEN 0
                          ELSE len(string_split(text, ' ')) END AS n_tok
              FROM documents),
            cum AS (
              SELECT record_id, shard, n_tok,
                     CAST(SUM(n_tok) OVER (
                         PARTITION BY shard ORDER BY h, record_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ) - n_tok AS BIGINT) AS c
              FROM base)
            SELECT record_id, shard, CAST(n_tok AS BIGINT) AS n_tok,
                   CAST(c // 64 AS BIGINT) AS seq_start,
                   CAST(c % 64 AS BIGINT) AS tok_offset,
                   CAST(CASE WHEN n_tok = 0 THEN 0
                        ELSE (c + n_tok - 1) // 64 - c // 64 + 1 END
                     AS BIGINT) AS n_seqs
            FROM cum ORDER BY record_id
        """,
        "quality_classifier": f"""
            WITH w AS (SELECT doc_id, string_split(text, ' ') AS toks
                       FROM documents WHERE text IS NOT NULL),
            uni AS (SELECT doc_id, UNNEST(list_transform(toks,
                      t -> {portable.sql_hash60("concat('ft1:', t)")}
                             % 512)) AS bucket
                    FROM w),
            bi AS (SELECT doc_id, UNNEST(list_transform(
                     generate_series(1, greatest(len(toks) - 1, 0)),
                     i -> {portable.sql_hash60(
                         "concat('ft2:', toks[i], ' ', toks[i+1])")}
                            % 512)) AS bucket
                   FROM w),
            f AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
            agg AS (SELECT doc_id,
                           CAST(COUNT(*) AS BIGINT) AS n_feat,
                           CAST(SUM((bucket * 2654435761) % 1001 - 500)
                             AS BIGINT) AS s
                    FROM f GROUP BY doc_id)
            SELECT d.doc_id AS record_id,
                   coalesce(a.n_feat, 0) AS n_feat,
                   a.s AS logit_milli,
                   a.s / (a.n_feat * 1000.0) AS score
            FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
            ORDER BY record_id
        """,
        "repetition_stats": r"""
            WITH w AS (SELECT doc_id, string_split(text, ' ') AS toks
                       FROM documents),
            t AS (SELECT doc_id, len(toks) AS n_tok,
                         len(list_distinct(toks)) AS n_uniq
                  FROM w),
            g2 AS (SELECT doc_id, UNNEST(list_transform(
                     generate_series(1, greatest(len(toks) - 1, 0)),
                     i -> toks[i] || ' ' || toks[i+1])) AS g FROM w),
            c2 AS (SELECT doc_id, g, COUNT(*) AS m FROM g2 GROUP BY 1, 2),
            a2 AS (SELECT doc_id, MAX(m) AS topm,
                          SUM(CASE WHEN m > 1 THEN m ELSE 0 END) AS dupm
                   FROM c2 GROUP BY doc_id),
            g3 AS (SELECT doc_id, UNNEST(list_transform(
                     generate_series(1, greatest(len(toks) - 2, 0)),
                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                     AS g FROM w),
            c3 AS (SELECT doc_id, g, COUNT(*) AS m FROM g3 GROUP BY 1, 2),
            a3 AS (SELECT doc_id, MAX(m) AS topm,
                          SUM(CASE WHEN m > 1 THEN m ELSE 0 END) AS dupm
                   FROM c3 GROUP BY doc_id)
            SELECT t.doc_id AS record_id, t.n_tok,
                   CAST(t.n_tok - t.n_uniq AS DOUBLE) / t.n_tok
                     AS dup_token_frac,
                   CASE WHEN coalesce(a2.topm, 0) > 1
                        THEN (a2.topm * 2.0) / t.n_tok ELSE 0.0 END
                     AS top2_frac,
                   (coalesce(a2.dupm, 0) * 2.0) / t.n_tok AS dup2_frac,
                   CASE WHEN coalesce(a3.topm, 0) > 1
                        THEN (a3.topm * 3.0) / t.n_tok ELSE 0.0 END
                     AS top3_frac,
                   (coalesce(a3.dupm, 0) * 3.0) / t.n_tok AS dup3_frac
            FROM t LEFT JOIN a2 ON a2.doc_id = t.doc_id
                   LEFT JOIN a3 ON a3.doc_id = t.doc_id
            ORDER BY record_id
        """,
        "stratified_sample": f"""
            WITH s AS (
              SELECT doc_id, lang,
                {portable.sql_hash60(
                    "concat('mix1:', CAST(doc_id AS VARCHAR))")}
                  / 1152921504606846976.0 AS u
              FROM documents
            ),
            k AS (
              SELECT doc_id, lang FROM s
              WHERE u < CASE WHEN lang = 'en' THEN 0.1
                             WHEN lang = 'es' THEN 0.5
                             WHEN lang = 'zh' THEN 1.0
                             ELSE 0.25 END
            )
            SELECT doc_id, lang,
                   CASE WHEN {portable.sql_hash60(
                       "concat('split:', CAST(doc_id AS VARCHAR))")}
                          / 1152921504606846976.0 < 0.2
                        THEN 'test' ELSE 'train' END AS split
            FROM k ORDER BY doc_id
        """,
        "temperature_mix": f"""
            WITH c AS (SELECT lang AS g, COUNT(*) AS n
                       FROM documents GROUP BY lang),
            -- order-fixed fold mirroring F.aggregate(array_sort(...)):
            -- list_reduce starts at the first element; Spark folds from
            -- 0.0, and 0.0 + x == x exactly in IEEE
            tot AS (SELECT list_reduce(
                      list_transform(
                        list_sort(list(struct_pack(g := g,
                          pw := power(n, 0.5)))),
                        s -> s.pw),
                      (a, b) -> a + b) AS t FROM c),
            r AS (SELECT g,
                         least(1.0, 200.0 * (power(n, 0.5) / t) / n)
                           AS mix_rate
                  FROM c, tot)
            SELECT d.doc_id, d.lang, r.mix_rate
            FROM documents d JOIN r ON d.lang = r.g
            WHERE {portable.sql_hash60(
                "concat('temp:', CAST(doc_id AS VARCHAR))")}
                  / 1152921504606846976.0 < r.mix_rate
            ORDER BY doc_id
        """,
        "segment_dedup": "WITH " + _SEG_CTES + """
            SELECT t.doc_id AS record_id,
                   coalesce(a.clean_text, '') AS clean_text,
                   t.n_seg,
                   t.n_seg - coalesce(a.n_kept, 0) AS n_dropped
            FROM tot t LEFT JOIN agg a ON a.doc_id = t.doc_id
            ORDER BY record_id
        """,
        "passage_dedup": """
            WITH w AS (SELECT doc_id,
                              string_split(coalesce(text,''), ' ') AS words
                       FROM documents),
            -- dedup._passage_windows_arr: overlapping 8-token spans
            wins AS (
              SELECT doc_id, UNNEST(list_transform(
                  generate_series(1, greatest(len(words) - 7, 0)),
                  i -> struct_pack(start := i - 1,
                                   win := array_to_string(
                                     words[i:i+7], ' ')))) AS u
              FROM w),
            s AS (SELECT doc_id, u.start AS start, u.win AS win FROM wins),
            -- >= 2 (doc, offset) sites, within-doc repeats included
            dup AS (SELECT win FROM s GROUP BY win HAVING COUNT(*) >= 2),
            cov0 AS (SELECT doc_id,
                            UNNEST(generate_series(start, start + 7)) AS pos
                     FROM (SELECT doc_id, start FROM s JOIN dup USING (win))),
            covpos AS (SELECT DISTINCT doc_id, pos FROM cov0),
            toks AS (SELECT doc_id, UNNEST(list_transform(
                       generate_series(1, len(words)),
                       i -> struct_pack(pos := i - 1, tok := words[i]))) AS u
                     FROM w),
            t2 AS (SELECT doc_id, u.pos AS pos, u.tok AS tok FROM toks),
            kept AS (SELECT t2.doc_id, t2.pos, t2.tok
                     FROM t2 LEFT JOIN covpos c
                       ON t2.doc_id = c.doc_id AND t2.pos = c.pos
                     WHERE c.pos IS NULL),
            agg AS (SELECT doc_id,
                           string_agg(tok, ' ' ORDER BY pos) AS clean_text,
                           COUNT(*) AS n_kept
                    FROM kept GROUP BY doc_id)
            SELECT w.doc_id AS record_id,
                   coalesce(a.clean_text, '') AS clean_text,
                   CAST(len(w.words) AS INT) AS n_tokens,
                   CAST(len(w.words) - coalesce(a.n_kept, 0) AS INT)
                     AS n_removed
            FROM w LEFT JOIN agg a USING (doc_id) ORDER BY record_id
        """,
        "lm_score": """
            WITH toks AS (
              SELECT doc_id, UNNEST(string_split(text, ' ')) AS token
              FROM documents WHERE text IS NOT NULL),
            cnts AS (SELECT token, COUNT(*) AS cnt FROM toks
                     GROUP BY token),
            -- mirror unigram_vocab's deterministic tie-break
            vocab AS (SELECT token FROM cnts
                      ORDER BY cnt DESC, token ASC LIMIT 20),
            per AS (
              SELECT t.doc_id,
                     CAST(COUNT(*) AS BIGINT) AS n_tok,
                     CAST(COUNT(*) FILTER (WHERE v.token IS NULL)
                          AS BIGINT) AS n_oov
              FROM toks t LEFT JOIN vocab v USING (token)
              GROUP BY t.doc_id)
            SELECT d.doc_id AS record_id, p.n_tok, p.n_oov,
                   CAST(p.n_tok - p.n_oov AS DOUBLE) / p.n_tok
                     AS known_frac
            FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id
            ORDER BY record_id
        """,
        "bloom_novelty": """
            WITH batch AS (
              SELECT doc_id + 20000000 AS record_id, text
              FROM documents WHERE doc_id % 7 = 0
              UNION ALL
              SELECT doc_id + 30000000 AS record_id, text || ' NOVEL'
              FROM documents WHERE doc_id % 7 = 3
            )
            SELECT b.record_id FROM batch b
            WHERE NOT EXISTS (
              SELECT 1 FROM documents h
              WHERE h.text IS NOT DISTINCT FROM b.text)
            ORDER BY record_id
        """,
        "c4_clean": r"""
            WITH base AS (
              SELECT doc_id, string_split(coalesce(text, ''), ' ') AS words
              FROM documents),
            chunk AS (
              SELECT doc_id, words,
                     greatest(CAST(ceil(len(words) / 6.0) AS BIGINT), 1)
                       AS nc
              FROM base),
            -- mirror q_c4_clean's planted lines: javascript prefix on
            -- every 7th, '.' on 2 of 3, 6-word slices
            lns AS (
              SELECT doc_id, list_transform(
                       generate_series(0, nc - 1),
                       i -> (CASE WHEN i % 7 = 0 THEN 'javascript '
                                  ELSE '' END)
                            || array_to_string(
                                 words[i*6+1 : i*6+6], ' ')
                            || (CASE WHEN i % 3 <> 0 THEN '.'
                                     ELSE '' END)) AS lines
              FROM chunk),
            raw AS (
              SELECT doc_id,
                     array_to_string(lines, chr(10))
                     || (CASE WHEN doc_id % 13 = 0 THEN chr(10) ||
                          'lorem ipsum dolor sit amet consectetur.'
                          ELSE '' END)
                     || (CASE WHEN doc_id % 17 = 0 THEN chr(10) ||
                          'the config { block } is here now.'
                          ELSE '' END) AS t
              FROM lns),
            -- textstats.c4_clean mirror: line filter, rebuild, gates
            k AS (
              SELECT doc_id, t, string_split(t, chr(10)) AS lines,
                     list_filter(string_split(t, chr(10)), l ->
                       trim(l) <> ''
                       AND regexp_matches(trim(l), '[.!?"]$')
                       AND len(string_split_regex(trim(l), '\s+')) >= 5
                       AND NOT contains(lower(l), 'javascript')) AS kept
              FROM raw),
            fin AS (
              -- coalesce: DuckDB array_to_string([]) is NULL where
              -- Spark array_join([]) is ''
              SELECT doc_id AS record_id,
                     coalesce(array_to_string(kept, chr(10)), '')
                       AS clean_text,
                     CAST(len(lines) AS INT) AS n_lines,
                     CAST(len(kept) AS INT) AS n_kept,
                     CAST(len(regexp_extract_all(
                       coalesce(array_to_string(kept, chr(10)), ''),
                       '[.!?]')) AS INT) AS n_sentences,
                     t
              FROM k)
            SELECT record_id, clean_text, n_lines, n_kept, n_sentences,
                   NOT (contains(lower(t), 'lorem ipsum')
                        OR contains(t, '{')
                        OR regexp_matches(lower(t),
                             '\b(?:porn|xxx|nsfw)\b')
                        OR n_sentences < 3) AS keep_doc
            FROM fin ORDER BY record_id
        """,
        "decontaminate": r"""
            -- regexp split (\s+) to mirror keygen.word_ngrams exactly:
            -- a doubled space must not leave an empty token in the gram
            -- on one engine only
            WITH w AS (SELECT doc_id,
                              string_split_regex(text, '\s+') AS words
                       FROM documents),
            g8 AS (
              SELECT doc_id, UNNEST(list_transform(
                generate_series(1, greatest(len(words) - 7, 0)),
                i -> array_to_string(words[i:i+7], ' '))) AS gram
              FROM w
            ),
            contaminated AS (
              SELECT DISTINCT g.doc_id
              FROM g8 g JOIN g8 b
                ON b.doc_id % 97 = 0 AND g.gram = b.gram
            )
            SELECT doc_id AS record_id, lang, n_chars
            FROM documents
            WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
            ORDER BY record_id
        """,
        "fuzzy_decontaminate": r"""
            -- contamination_overlap: per-doc DISTINCT 8-gram overlap
            -- ratio vs the doc_id % 97 = 0 pseudo-benchmark. Gram CTEs
            -- mirror keygen.word_ngrams (regexp \s+ split, distinct
            -- per doc); counts CAST to BIGINT for cross-engine schema.
            WITH w AS (SELECT doc_id,
                              string_split_regex(text, '\s+') AS words
                       FROM documents),
            g8 AS (
              SELECT DISTINCT doc_id, gram FROM (
                SELECT doc_id, UNNEST(list_transform(
                  generate_series(1, greatest(len(words) - 7, 0)),
                  i -> array_to_string(words[i:i+7], ' '))) AS gram
                FROM w)
            ),
            bg AS (SELECT DISTINCT gram FROM g8 WHERE doc_id % 97 = 0),
            st AS (
              SELECT g8.doc_id,
                     CAST(COUNT(*) AS BIGINT) AS n_grams,
                     CAST(SUM(CASE WHEN bg.gram IS NOT NULL
                                   THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
              FROM g8 LEFT JOIN bg USING (gram)
              GROUP BY g8.doc_id
            )
            SELECT d.doc_id AS record_id,
                   COALESCE(st.n_grams, 0) AS n_grams,
                   COALESCE(st.n_hit, 0) AS n_hit,
                   CASE WHEN COALESCE(st.n_grams, 0) > 0
                        THEN CAST(st.n_hit AS DOUBLE) / st.n_grams
                        ELSE 0.0 END AS overlap,
                   (CASE WHEN COALESCE(st.n_grams, 0) > 0
                         THEN CAST(st.n_hit AS DOUBLE) / st.n_grams
                         ELSE 0.0 END) <= 0.3 AS kept
            FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id
            ORDER BY record_id
        """,
        "hot_ngrams": r"""
            -- dedup.hot_ngrams: document frequency of word 3-grams
            -- (distinct per doc, mirroring word_ngrams), top-20 by
            -- (doc_freq DESC, gram ASC) — a total order, deterministic
            -- at the boundary.
            WITH w AS (SELECT doc_id,
                              string_split_regex(text, '\s+') AS words
                       FROM documents),
            g3 AS (
              SELECT DISTINCT doc_id, gram FROM (
                SELECT doc_id, UNNEST(list_transform(
                  generate_series(1, greatest(len(words) - 2, 0)),
                  i -> array_to_string(words[i:i+2], ' '))) AS gram
                FROM w)
            )
            SELECT gram, CAST(COUNT(*) AS BIGINT) AS doc_freq
            FROM g3
            GROUP BY gram
            ORDER BY doc_freq DESC, gram ASC
            LIMIT 20
        """,
        "best_of_cluster": f"""
            -- refine.keep_best over fingerprint clusters: per cluster
            -- (min-id label) the member with max n_chars, ties lowest
            -- id, plus member count.
            WITH fp AS (SELECT doc_id AS record_id, n_chars,
                               {_FP} AS f
                        FROM documents),
            lab AS (SELECT record_id, n_chars,
                           MIN(record_id) OVER (PARTITION BY f)
                             AS cluster_id,
                           CAST(COUNT(*) OVER (PARTITION BY f) AS BIGINT)
                             AS members,
                           ROW_NUMBER() OVER (
                             PARTITION BY f
                             ORDER BY n_chars DESC, record_id ASC) AS rn
                    FROM fp)
            SELECT cluster_id, record_id AS keeper_id, n_chars, members
            FROM lab WHERE rn = 1 ORDER BY cluster_id
        """,
        "pii_redact": """
            WITH dirty AS (
              SELECT doc_id, text
                || (CASE WHEN doc_id % 2 = 0 THEN ' contact user'
                     || CAST(doc_id AS VARCHAR) || '@example.com'
                     ELSE '' END)
                || (CASE WHEN doc_id % 3 = 0 THEN ' from 10.0.'
                     || CAST(doc_id % 200 AS VARCHAR) || '.7'
                     ELSE '' END)
                || (CASE WHEN doc_id % 5 = 0 THEN ' call +1 (555) 01'
                     || CAST(doc_id % 90 + 10 AS VARCHAR)
                     ELSE '' END) AS t
              FROM documents)
            SELECT doc_id AS record_id,
                   regexp_replace(regexp_replace(regexp_replace(t,
                     '"""
        + normalize.PII_EMAIL_RE + """', '<EMAIL>', 'g'),
                     '"""
        + normalize.PII_IPV4_RE + """', '<IP>', 'g'),
                     '"""
        + normalize.PII_PHONE_RE + """', '<PHONE>', 'g') AS clean_text
            FROM dirty ORDER BY record_id
        """,
        "clean_corpus": "WITH " + _SEG_CTES + """,
            -- plans/corpus.clean_corpus: drop emptied docs, exact
            -- keep-min on CLEANED text, minimum-length gate
            ne AS (SELECT doc_id, clean_text FROM agg
                   WHERE clean_text <> ''),
            win AS (SELECT doc_id, clean_text,
                           MIN(doc_id) OVER (PARTITION BY clean_text)
                             AS keeper
                    FROM ne)
            SELECT doc_id AS record_id, clean_text,
                   len(string_split(clean_text, ' ')) AS n_tok
            FROM win
            WHERE doc_id = keeper
              AND len(string_split(clean_text, ' ')) >= 5
            ORDER BY record_id
        """,
        "url_dedup": r"""
            WITH pages AS (
              SELECT (CASE WHEN doc_id % 2 = 0 THEN 'HTTP://WWW.'
                           ELSE 'https://' END)
                || 'Site' || CAST(doc_id % 10 AS VARCHAR) || '.Example.COM'
                || (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END)
                || '/Docs/' || CAST(doc_id // 20 AS VARCHAR)
                || (CASE WHEN doc_id % 3 = 1 THEN '/' ELSE '' END)
                || (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&b=2&a=1'
                         WHEN doc_id % 4 = 1 THEN '?a=1&b=2&fbclid=XYZ'
                         WHEN doc_id % 4 = 2 THEN '?b=2&a=1'
                         ELSE '' END)
                || (CASE WHEN doc_id % 7 = 0 THEN '#Section-2' ELSE '' END)
                AS url
              FROM documents
            ),
            -- normalize.canonical_url, rule for rule
            p1 AS (
              SELECT url,
                regexp_matches(url, '^[A-Za-z][A-Za-z0-9+.-]*://') AS isurl,
                lower(regexp_extract(url,
                  '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS sch0,
                regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
              FROM pages
            ),
            p2 AS (
              SELECT url, isurl,
                CASE WHEN sch0 = 'http' THEN 'https' ELSE sch0 END AS sch,
                regexp_replace(regexp_replace(
                  lower(regexp_extract(rest, '^([^/?#]*)', 1)),
                  '^www\.', ''), ':(80|443)$', '') AS host,
                regexp_replace(regexp_replace(rest, '^[^/?#]*', ''),
                               '#.*$', '') AS nofrag
              FROM p1
            ),
            p3 AS (
              SELECT url, isurl, sch, host,
                regexp_replace(regexp_extract(nofrag, '^([^?]*)', 1),
                               '/+$', '') AS path,
                regexp_extract(nofrag, '\?(.*)$', 1) AS query
              FROM p2
            ),
            p4 AS (
              SELECT url, isurl, sch, host, path,
                coalesce(list_aggregate(list_sort(list_filter(
                  string_split(query, '&'),
                  p -> p <> '' AND NOT regexp_matches(p,
                    '^(utm_[^=&]*|fbclid|gclid|msclkid|ref)(=.*)?$'))),
                  'string_agg', '&'), '') AS qs
              FROM p3
            ),
            c AS (
              SELECT url,
                CASE WHEN isurl THEN sch || '://' || host || path
                       || (CASE WHEN qs = '' THEN ''
                                ELSE '?' || qs END)
                     ELSE lower(trim(url)) END AS canonical_url
              FROM p4
            )
            SELECT url, canonical_url,
                   MIN(url) OVER (PARTITION BY canonical_url) AS cluster_id
            FROM c ORDER BY url
        """,
        "semantic_dedup": """
            WITH RECURSIVE
            cent AS (
              SELECT vec_id AS list_id, CAST(embedding AS DOUBLE[]) AS cv
              FROM embeddings ORDER BY vec_id LIMIT 16
            ),
            ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
            -- nearest-list assignment + centroid cosine (quantized;
            -- list-id ties): the ivf_topk assignment CTE carrying csim
            assign AS (
              SELECT vec_id, list_id, csim FROM (
                SELECT e.vec_id, c.list_id,
                       ROUND(list_cosine_similarity(e.v, c.cv), 9) AS csim,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id
                         ORDER BY ROUND(list_cosine_similarity(e.v, c.cv), 9)
                           DESC, c.list_id) AS rn
                FROM ev e CROSS JOIN cent c) WHERE rn = 1
            ),
            -- within-list semantic-duplicate edges at eps = 0.35
            e AS MATERIALIZED (
              SELECT a.vec_id AS src, b.vec_id AS dst
              FROM assign a JOIN assign b
                ON a.list_id = b.list_id AND a.vec_id < b.vec_id
              JOIN ev va ON va.vec_id = a.vec_id
              JOIN ev vb ON vb.vec_id = b.vec_id
              WHERE ROUND(list_cosine_similarity(va.v, vb.v), 9) >= 0.35
            ),
            und AS (SELECT src AS x, dst AS y FROM e
                    UNION SELECT dst, src FROM e),
            reach(node, other) AS (
              SELECT vec_id, vec_id FROM embeddings
              UNION
              SELECT r.node, u.y FROM reach r JOIN und u ON u.x = r.other
            ),
            grp AS (SELECT node AS record_id, MIN(other) AS gid
                    FROM reach GROUP BY node),
            -- keeper: the group member FARTHEST from its list centroid
            -- (lowest csim; ties -> smaller id) — SemDeDup's rule
            keeper AS (
              SELECT gid, record_id AS keeper_id FROM (
                SELECT g.gid, g.record_id,
                       ROW_NUMBER() OVER (PARTITION BY g.gid
                         ORDER BY a.csim ASC, g.record_id ASC) AS rn
                FROM grp g JOIN assign a ON a.vec_id = g.record_id)
              WHERE rn = 1
            )
            SELECT g.record_id, k.keeper_id,
                   g.record_id <> k.keeper_id AS is_dup
            FROM grp g JOIN keeper k ON k.gid = g.gid
            ORDER BY g.record_id
        """,
        "ann_topk": """
            SELECT query_id, neighbor_id, rank FROM (
              SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                     ROW_NUMBER() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY ROUND(list_cosine_similarity(
                           CAST(a.embedding AS DOUBLE[]),
                           CAST(b.embedding AS DOUBLE[])), 9)
                         DESC, b.vec_id) AS rank
              FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
              WHERE a.vec_id < 32)
            WHERE rank <= 3 ORDER BY query_id, rank
        """,
    }


if __name__ == "__main__":
    from ny_campaign_finance_dedupe_spark.session import get_spark

    s = get_spark("entry-smoke")
    df = entry(s)
    df.show(10, truncate=False)
    print("rows:", df.count())
