"""Benchmark harness (driver contract).

Runs the headline queries from ``__spark_entry__.queries()`` at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]``, each timed (and warmed up) as a full
write to Spark's ``noop`` sink, and prints ONE JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Also times the flagship three-stage ER pipeline over a deterministic
synthetic ``pages`` table (synth.synth_pages — the north_rule input
shape) and reports ``pages_per_sec``; scaling-efficiency evidence at two
parallelism levels lives in ``tools/scaling_bench.py`` → BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pyspark.sql.functions as F

import __spark_entry__ as entry_mod
from ny_campaign_finance_dedupe_spark.operators import ann, dedup
from ny_campaign_finance_dedupe_spark.session import get_spark
from ny_campaign_finance_dedupe_spark.synth import synth_pages

# Headline set: every stage family — exact/fingerprint dedup, blocking
# self-join, minhash/simhash LSH, n-gram Jaccard, connected components,
# scoring+pipeline, reporting aggs, window top-k, ANN.
HEADLINE = [
    "url_dedup",
    "segment_dedup",
    "passage_dedup",
    "clean_corpus",
    "c4_clean",
    "bloom_novelty",
    "fuzzy_decontaminate",
    "hot_ngrams",
    "best_of_cluster",
    "exact_dedup_clusters",
    "fingerprint_clusters",
    "blocking_first_token_pairs",
    "ngram_jaccard_dedup",
    "winnow_neardup",
    "cc_jaccard_clusters",
    "minhash_dedup",
    "simhash_dedup",
    "token_stats",
    "repetition_stats",
    "quality_score",
    "lang_id",
    "lm_score",
    "pack_sequences",
    "quality_classifier",
    "pricing_summary",
    "top_entities",
    "window_topk_per_user",
    "embedding_neardup",
    "ann_topk",
    "lsh_ann_topk",
    "ivf_ann_topk",
    "semantic_dedup",
    "er_pipeline",
]


# The LSH operators have two hash families behind one contract: the
# xxhash64+Arrow fast path (hashing.py — the 100 TB scale path, benched
# here) and the md5-portable family (portable.py — what queries() exposes
# so the DuckDB oracle can recompute every value; its native-but-
# interpreted higher-order expressions are ~10-80x slower by design).
# Bench measures the operator as deployed; correctness gates the
# semantics on the portable twin. Same plan shape either way.
def _fast_minhash(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.minhash_candidate_pairs(
        docs, "doc_id", "text", est_threshold=0.5
    )


def _fast_winnow(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.winnow_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.5,
        df_cap=dedup.default_df_cap(docs.count()), family="fast",
    )


def _fast_quality(spark, sf_dir):
    from ny_campaign_finance_dedupe_spark.operators import quality

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return quality.score_text_classifier(
        docs, "doc_id", "text", model=None, n_buckets=512, family="fast"
    )


def _fast_simhash(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.simhash_near_pairs(docs, "doc_id", "text", max_hamming=3)


def _fast_lsh_ann(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 32)
    return ann.lsh_topk(q, emb, dim=64, k=3, bands=8, bits=8)


def _fast_ivf_ann(spark, sf_dir):
    # deployed IVF geometry: 64 lists, 8-probe, unquantized re-rank
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 32)
    return ann.ivf_topk(q, emb, k=3, nlist=64, nprobe=8)


def _fast_semantic(spark, sf_dir):
    # deployed SemDeDup geometry: 64 lists, unquantized cosine
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ann.semantic_dedup(emb, eps=0.35, nlist=64)


def _fast_er(spark, sf_dir):
    from ny_campaign_finance_dedupe_spark.plans.pipeline import (
        DedupePipeline,
        PipelineConfig,
    )
    from ny_campaign_finance_dedupe_spark.sources.checkpoint import (
        CheckpointStore,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pages = entry_mod._documents_as_pages(docs)
    store = CheckpointStore(entry_mod._scratch_mkdtemp("nycfd_benchq_"))
    em = DedupePipeline(PipelineConfig(), store).run(spark, pages)
    # the returned DF reads the cluster checkpoint lazily, so removal
    # must wait until _time_df has written it
    _SCRATCH_STORES.append(store.root)
    return em.select("record_id", "cluster_id")


_SCRATCH_STORES: list = []  # checkpoint dirs to rmtree after materialization


BENCH_VARIANT = {
    "winnow_neardup": _fast_winnow,
    "minhash_dedup": _fast_minhash,
    "simhash_dedup": _fast_simhash,
    "quality_classifier": _fast_quality,
    "lsh_ann_topk": _fast_lsh_ann,
    "ivf_ann_topk": _fast_ivf_ann,
    "semantic_dedup": _fast_semantic,
    "er_pipeline": _fast_er,
}


def _time_df(fn, *args) -> float:
    """Seconds to build and fully write ``fn(*args)`` to a noop sink:
    every column is produced, unlike ``count()``, under which column
    pruning deletes part of the operator."""
    t0 = time.perf_counter()
    df = fn(*args)
    df.write.format("noop").mode("overwrite").save()
    secs = time.perf_counter() - t0
    # reclaim operator-internal caches between queries (dedup._tag_persisted):
    # this loop materializes-and-discards 17 results in one session
    dedup.release(df)
    return secs


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else 0.0
    n_bench_pages = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "40000"))
    # The JVM's generated-class cache (CodeGenerator) holds ~100 entries
    # by default; this headline compiles several hundred distinct
    # codegen shapes, so with the default size the cache thrashes and
    # queries re-pay single-threaded Janino compilation at TIMED time
    # (measured: er_pipeline 8.7 s warm vs 22-28 s after eviction).
    # Raise the static conf where the build supports it (ignored
    # harmlessly otherwise) — the per-query warm-up below is the
    # eviction-proof guarantee.
    spark = get_spark(
        "nycfd-bench",
        extra_conf={"spark.sql.codegen.cache.maxEntries": "5000"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    qs = entry_mod.queries()
    timings: dict[str, float] = {}
    # JVM/py4j warm-up so q1 doesn't absorb session start cost
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    import shutil

    # Per-query-shape warm-up, UNTIMED, at the tiny sf0.001 fixture,
    # IMMEDIATELY before each timed run: whole-stage-codegen compiles
    # per generated source, so every query has its own cold-compile
    # cost the pipeline warm-up above does not touch (measured on this
    # VM: minhash_dedup 12.7 s cold -> 1.3 s warm on identical sf0.1
    # input; the cold cost is single-threaded Janino compilation +
    # Arrow worker forks, and it made the per-draw headline swing
    # 63/146/96 s on an otherwise idle box). Warming must be adjacent
    # to the timed run, not a bulk pass up front — the generated-class
    # cache is bounded, and a few dozen intervening queries evict the
    # early shapes (measured: er_pipeline warmed-then-evicted re-paid
    # 20 s of compilation at the END of a bulk-warmed headline). The
    # timed section therefore measures the warm operator rate — the
    # quantity that scales to 100 TB — for every query. Warm-up
    # failures are ignored here and charged in the timed loop.
    warm_dir = "/root/testdata/sf0.001"
    warm = os.path.isdir(warm_dir)

    failed: list[str] = []
    for name in HEADLINE:
        fn = BENCH_VARIANT.get(name, qs.get(name))
        if warm:
            try:
                _time_df(fn, spark, warm_dir)
            except Exception:  # pragma: no cover - warm-up best-effort
                pass
            while _SCRATCH_STORES:
                shutil.rmtree(_SCRATCH_STORES.pop(), ignore_errors=True)
        try:
            secs = _time_df(fn, spark, sf_dir)
            timings[name] = round(secs, 3)
        except Exception as e:  # pragma: no cover - bench robustness
            print(f"# bench {name} FAILED: {e}", file=sys.stderr)
            timings[name] = -1.0
            failed.append(name)
        while _SCRATCH_STORES:
            shutil.rmtree(_SCRATCH_STORES.pop(), ignore_errors=True)

    # flagship throughput: full ER pipeline over synthetic pages
    from ny_campaign_finance_dedupe_spark.plans.pipeline import (
        DedupePipeline,
        PipelineConfig,
    )
    from ny_campaign_finance_dedupe_spark.sources.checkpoint import CheckpointStore

    # Steady-state warm-up for the synth pipeline, UNTIMED, at 1/20
    # size, ADJACENT to its timed run (same eviction argument as the
    # per-query warm-up above; measured 24.5 s cold -> 10.1 s warm for
    # the identical 40k-page job — JIT latency, not operator cost).
    def _synth_er(store, pages):
        return DedupePipeline(PipelineConfig(), store).run(spark, pages)

    try:
        wpages, _ = synth_pages(spark, n_pages=n_bench_pages // 20, seed=7)
        ws = CheckpointStore(entry_mod._scratch_mkdtemp("nycfd_warm_"))
        _time_df(_synth_er, ws, wpages)
        shutil.rmtree(ws.root, ignore_errors=True)
    except Exception as e:  # pragma: no cover - warm-up is best-effort
        print(f"# warm-up skipped: {e}", file=sys.stderr)

    pages, _ = synth_pages(spark, n_pages=n_bench_pages, seed=42)
    pages = pages.persist()
    pages.count()  # materialize input outside the timed region
    store = CheckpointStore(entry_mod._scratch_mkdtemp("nycfd_bench_"))
    er_secs = _time_df(_synth_er, store, pages)
    n_out = store.read(spark, "cluster").count()
    shutil.rmtree(store.root, ignore_errors=True)
    timings["er_pipeline_synth"] = round(er_secs, 3)
    pages_per_sec = n_bench_pages / er_secs if er_secs > 0 else 0.0

    # total over all timings (er_pipeline_synth included — the metric's
    # definition since round 1, kept for cross-round comparability). A
    # failed query is NOT silently dropped from the total: it is charged
    # a poison value (by the FAILED list, not the timing's sign — a
    # legitimate 0.000 s timing is a success) and the JSON carries the
    # failure list explicitly. The penalty cannot know the crashed
    # query's true cost, so the headline of a run with failures is only
    # comparable through failed_queries, never silently.
    FAIL_PENALTY_SEC = 600.0
    total = sum(
        FAIL_PENALTY_SEC if name in failed else max(v, 0.0)
        for name, v in timings.items()
    )
    out = {
        "metric": "headline_total_sec",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "pages_per_sec": round(pages_per_sec, 1),
        "bench_pages": n_bench_pages,
        "er_entity_map_rows": n_out,
    }
    if failed:
        out["failed_queries"] = failed
    print(json.dumps(out))


if __name__ == "__main__":
    main()
