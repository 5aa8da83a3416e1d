"""End-to-end: synth pages -> pipeline -> F1 >= 0.99 + resume idempotence.

Reference analogs: the restaurant golden-dataset canonical test
(dedupe/tests/canonical.py) and start_at_clustering resume semantics.
"""

import pyspark.sql.functions as F
import pytest

from ny_campaign_finance_dedupe_spark.plans.evaluate import (
    clusters_to_pairs,
    evaluate_pairs,
)
from ny_campaign_finance_dedupe_spark.plans.pipeline import (
    DedupePipeline,
    PipelineConfig,
)
from ny_campaign_finance_dedupe_spark.sources.checkpoint import CheckpointStore
from ny_campaign_finance_dedupe_spark.synth import synth_pages, true_pairs


@pytest.fixture(scope="module")
def run(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("ckpt")
    pages, entities = synth_pages(spark, n_pages=1500, seed=42)
    pages = pages.localCheckpoint()
    entities = entities.localCheckpoint()
    store = CheckpointStore(str(root), run_id="t1")
    pipe = DedupePipeline(PipelineConfig(), store)
    entity_map = pipe.run(spark, pages, resume_from=None).localCheckpoint()
    return dict(
        root=root, pages=pages, entities=entities, store=store, pipe=pipe,
        entity_map=entity_map,
    )


def test_f1_at_shared_blocking_key(spark, run):
    truth = true_pairs(run["entities"])
    cand = run["store"].read(spark, "pairs")
    predicted = clusters_to_pairs(run["entity_map"])
    ev = evaluate_pairs(predicted, cand, truth)
    assert ev.f1 >= 0.99, ev
    assert ev.blocking_recall >= 0.95, ev


def test_every_record_assigned_once(run):
    em = run["entity_map"]
    n_pages = run["pages"].count()
    assert em.count() == n_pages
    assert em.select("record_id").distinct().count() == n_pages


def test_signatures_checkpoint_is_keys_only(spark, run):
    """Scale contract (BASELINE.md r3): the signatures stage emits only
    the blocking inputs (url, exact sha2 key, minhash sig, simhash) —
    never the ~1 KB/page ntext payload, which would ride the stage write
    AND the blocking read. ntext hydrates from the extract checkpoint."""
    signed = run["store"].read(spark, "signatures")
    assert "ntext" not in signed.columns
    assert {"url", "exact_key", "sig", "simhash"} <= set(signed.columns)
    # the exact key is present exactly when extract produced text
    ext = run["store"].read(spark, "extract")
    n_text = ext.where(F.col("ntext").isNotNull()).count()
    assert signed.where(F.col("exact_key").isNotNull()).count() == n_text


def test_match_runs_lineage(spark, run):
    mr = run["store"].match_runs(spark)
    stages = {r["stage"] for r in mr.select("stage").distinct().collect()}
    assert {"extract", "block", "pairs", "score", "cluster", "cluster_stats"} <= stages
    # per-partition rows recorded
    assert mr.where(F.col("stage") == "extract").count() >= 1
    ex = mr.where((F.col("stage") == "extract") & (F.col("partition_id") >= 0))
    total = ex.agg(F.sum("rows_out")).collect()[0][0]
    assert total == run["pages"].count()


def test_run_stats_honors_passed_map_and_validates_params(spark, run):
    """write_run_stats contract: a caller-passed entity map is
    aggregated AS GIVEN (never silently swapped for the on-disk cluster
    checkpoint), and the checkpoint fast path (entity_map=None) is
    params-validated so stale/mismatched checkpoints are refused."""
    store = run["store"]
    full = run["entity_map"]
    n = full.count()
    # a strict subset must yield subset stats, not checkpoint stats
    subset = full.limit(n // 2)
    stats = store.write_run_stats(subset, params={"probe": "subset"})
    assert stats["total_records"] == n // 2
    # checkpoint fast path: params must match the cluster checkpoint's
    with pytest.raises(ValueError):
        store.write_run_stats(params={"not": "the pipeline params"})
    ok = store.write_run_stats(params=run["pipe"].cfg.params())
    assert ok["total_records"] == n


def test_resume_from_cluster_reuses_checkpoints(spark, run):
    """Resume from 'cluster': stages before it must be read back, and the
    final entity map must be identical (idempotent restart)."""
    pipe = run["pipe"]
    em2 = pipe.run(spark, run["pages"], resume_from="cluster")
    a = run["entity_map"].orderBy("record_id").collect()
    b = em2.orderBy("record_id").collect()
    assert [(r["record_id"], r["cluster_id"]) for r in a] == [
        (r["record_id"], r["cluster_id"]) for r in b
    ]


def test_resume_rejects_changed_params(spark, run):
    """A checkpoint written under different params must NOT be reused."""
    store = run["store"]
    cfg2 = PipelineConfig(minhash_bands=16, minhash_rows=4)
    assert not store.has("extract", cfg2.params())
    assert store.has("extract", PipelineConfig().params())


def test_synth_emits_both_duplicate_classes(spark):
    """The generator must plant BOTH dup classes: byte-identical copies
    (kind 0 — what exact dedup needs) AND render-noise-only near-dups
    (kind 5 / guard-failed kinds: same words, different punctuation/
    case/whitespace — what normalization exists to collapse)."""
    import re

    pages, entities = synth_pages(spark, n_pages=800, seed=42)
    rows = (
        pages.where(F.col("text").isNotNull())
        .join(entities, "url")
        .select("url", "text", "entity_id")
        .collect()
    )
    # the anchor page's pid == entity_id (synth contract); identify it by
    # the url's pid suffix, not by collect() row order (nondeterministic)
    by_ent: dict = {}
    for r in rows:
        pid = int(r["url"].rsplit("/", 1)[1])
        by_ent.setdefault(r["entity_id"], {})[pid] = r["text"]
    exact = noisy = 0
    canon = lambda t: re.sub(r"\s+", " ", re.sub(r"[^\w\s]", "", t.lower()))
    for ent, pages in by_ent.items():
        anchor = pages.get(ent)
        if anchor is None:
            continue  # anchor text nulled by null_text_rate
        for pid, t in pages.items():
            if pid == ent:
                continue
            if t == anchor:
                exact += 1
            elif canon(t) == canon(anchor):
                noisy += 1
    assert exact > 0, "no byte-identical duplicates planted"
    assert noisy > 0, "no render-noise-only near-duplicates planted"


def test_skewed_corpus_salted_equals_join(spark):
    """north_rule skew handling on the pipeline's own blocking map: on a
    corpus with planted blocking-key skew (10% of pages are boilerplate
    template pages in 4 hot families — hot domain + hot minhash bands
    each), the salted bucket-grid operator must emit exactly the pair
    set of the pipeline's plain self-join, so the entity map cannot
    differ: salting is a physical-plan choice, never a semantic one. The
    cap admits the hot blocks (above family size) and the salt threshold
    sits below them, so the grid path really runs."""
    from ny_campaign_finance_dedupe_spark.operators import pairs as P

    def pair_set(df):
        return {(r["src"], r["dst"]) for r in df.collect()}

    pages, _ = synth_pages(
        spark, n_pages=2000, seed=11,
        skew_domain_frac=0.10, skew_templates=4,
    )
    pipe = DedupePipeline(PipelineConfig(max_block_size=500))
    bm = pipe.block(pipe.signatures(pipe.extract(pages))).localCheckpoint()
    # the stress is real: at least one block is over the salt threshold,
    # so the grid path actually executes
    hot = bm.groupBy("block_key").count().where(F.col("count") > 20).count()
    assert hot > 0, "no hot blocks - skew knob failed to plant skew"
    plain = pair_set(pipe.gen_pairs(bm))
    assert pair_set(P.salted_candidate_pairs(bm, 20, 4)) == plain


def test_synth_skew_zero_is_byte_identical(spark):
    """The skew knob must not perturb the historical generator: skew=0
    output equals the pre-knob output byte-for-byte (the scaling series,
    oracles, and every fixture depend on it)."""
    a, ea = synth_pages(spark, n_pages=300, seed=42)
    b, eb = synth_pages(spark, n_pages=300, seed=42, skew_domain_frac=0.0)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    # and a skewed run plants what it claims: template family entities
    # are negative ids, template pages share the family domain
    c, ec = synth_pages(
        spark, n_pages=300, seed=42, skew_domain_frac=0.2, skew_templates=2
    )
    ents = {r["entity_id"] for r in ec.collect()}
    assert {-1, -2} & ents
    tpl = [r for r in c.collect() if "template" in r["url"]]
    assert 30 <= len(tpl) <= 90  # ~20% of 300, binomial spread
    assert all(r["text"] is not None for r in tpl)


def test_compact_block_keys_semantics_and_type(spark):
    """Block-key compaction (the fast family's block stage) is a
    physical choice, never a semantic one: the 64-bit xxhash64 keys must
    yield the IDENTICAL entity map to the string keys on the same corpus
    — the map that ``build_blocking_map`` + ``cap_blocks``, the two
    operators ``block()`` composes, give before compaction — and the
    compact map must actually carry longs (8 bytes/key through the cap
    shuffle, the pair self-join, and the stage checkpoint) while the
    portable family keeps oracle-recomputable strings."""
    from pyspark.sql.types import LongType, StringType

    from ny_campaign_finance_dedupe_spark.operators import blocking

    pages, _ = synth_pages(spark, n_pages=1200, seed=7)
    pages = pages.localCheckpoint()
    pipe = DedupePipeline(PipelineConfig())
    ext = pipe.extract(pages).localCheckpoint()
    signed = pipe.signatures(ext).localCheckpoint()
    strings = blocking.cap_blocks(
        blocking.build_blocking_map(signed, "url", pipe.predicates()),
        pipe.cfg.max_block_size,
    )
    maps = {}
    for name, bm, want in (
        ("string", strings, StringType()),
        ("compact", pipe.block(signed), LongType()),
    ):
        bm = bm.localCheckpoint()
        assert bm.schema["block_key"].dataType == want
        em = pipe.cluster(pipe.score(pipe.gen_pairs(bm), ext), ext)
        maps[name] = {(r["record_id"], r["cluster_id"]) for r in em.collect()}
    assert maps["string"] == maps["compact"]
    pipe = DedupePipeline(PipelineConfig(portable_hashing=True))
    bm = pipe.block(pipe.signatures(pipe.extract(pages.limit(50))))
    assert bm.schema["block_key"].dataType == StringType()
