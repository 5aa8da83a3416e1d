"""Incremental (gazetteer-style) matching: batch kernel + streaming query."""

import pytest

from ny_campaign_finance_dedupe_spark.operators.scoring import LogisticModel
from ny_campaign_finance_dedupe_spark.plans.pipeline import (
    DedupePipeline,
    PipelineConfig,
)
from ny_campaign_finance_dedupe_spark.streaming import incremental
from ny_campaign_finance_dedupe_spark.synth import PAGES_SCHEMA, synth_pages


@pytest.fixture(scope="module")
def corpus(spark):
    pages, _ = synth_pages(spark, n_pages=300, seed=7, dup_rate=0.0)
    return pages.localCheckpoint()


def test_match_batch_finds_planted_match(spark, corpus):
    cfg = PipelineConfig()
    index = incremental.build_index(corpus, cfg).localCheckpoint()
    # query batch: an exact copy of one corpus page under a new url
    one = corpus.limit(1).collect()[0]
    batch = spark.createDataFrame(
        [("https://newsite.example.com/q/1", one["warc_ts"], one["html"],
          one["text"], one["lang"])],
        PAGES_SCHEMA,
    )
    pipe = DedupePipeline(cfg)
    ext = pipe.with_signatures(pipe.extract(batch))
    out = incremental.match_batch(ext, index, cfg, n_matches=1).collect()
    assert len(out) == 1
    assert out[0]["match_url"] == one["url"]
    assert out[0]["score"] > 0.9
    assert out[0]["rank"] == 1


def test_match_batch_no_false_match(spark, corpus):
    cfg = PipelineConfig()
    index = incremental.build_index(corpus, cfg).localCheckpoint()
    batch = spark.createDataFrame(
        [("https://newsite.example.com/q/2", None, None,
          "entirely novel text with vocabulary shared by no corpus page qqq",
          "en")],
        PAGES_SCHEMA,
    )
    pipe = DedupePipeline(cfg)
    ext = pipe.with_signatures(pipe.extract(batch))
    out = incremental.match_batch(ext, index, cfg, n_matches=3).collect()
    assert out == []


def test_match_batch_ties_break_on_logit(spark, corpus):
    """Candidates rank on the logit, as both oracles do (ORDER BY z DESC,
    match_url): under a scaled-up model the sigmoid saturates and two
    candidates both score 1.0, and the exact copy (higher logit) must
    still beat the near-duplicate whose url sorts first."""
    base = corpus.limit(1).collect()[0]["text"]
    model = LogisticModel()
    cfg = PipelineConfig(model=LogisticModel(
        weights={k: 10 * w for k, w in model.weights.items()},
        bias=10 * model.bias,
    ).to_dict())
    indexed = spark.createDataFrame(
        [("https://a.example.com/near", None, None, base + " zzzextra", "en"),
         ("https://b.example.com/copy", None, None, base, "en")],
        PAGES_SCHEMA,
    )
    index = incremental.build_index(indexed, cfg).localCheckpoint()
    batch = spark.createDataFrame(
        [("https://q.example.com/1", None, None, base, "en")], PAGES_SCHEMA
    )
    pipe = DedupePipeline(cfg)
    out = incremental.match_batch(
        pipe.with_signatures(pipe.extract(batch)), index, cfg, n_matches=2
    ).collect()
    assert [r["score"] for r in out] == [1.0, 1.0]
    assert {r["rank"]: r["match_url"] for r in out} == {
        1: "https://b.example.com/copy", 2: "https://a.example.com/near"
    }


def test_ingest_dedup_suppresses_recrawls_across_restart(spark, tmp_path):
    """Watermarked stateful exact dedup at ingestion: a within-batch
    duplicate and a second-tick re-crawl (same normalized content, new
    url-tick) are both suppressed; dedup state SURVIVES a query restart
    via the checkpoint (the crawl's ingestion ticks are availableNow
    runs against a growing source dir)."""
    import datetime

    from ny_campaign_finance_dedupe_spark.streaming import ingest

    t0 = datetime.datetime(2026, 1, 1, 12, 0)
    src = str(tmp_path / "ingest_src")
    out = str(tmp_path / "ingest_out")
    ckpt = str(tmp_path / "ingest_ckpt")
    b1 = spark.createDataFrame(
        [
            ("https://a.com/1", t0, None, "page one body text", "en"),
            # same content, different url: a mirror — dup within batch
            ("https://b.com/1", t0, None, "page one body text", "en"),
            ("https://a.com/2", t0, None, "page two body text", "en"),
        ],
        PAGES_SCHEMA,
    )
    b1.write.parquet(src)
    q = ingest.start_ingest_dedup(spark, src, out, ckpt, PAGES_SCHEMA)
    q.awaitTermination(120)
    got1 = spark.read.parquet(out).collect()
    assert len(got1) == 2
    assert {r["exact_key"] for r in got1} == {
        r["exact_key"]
        for r in ingest.with_content_key(b1).select("exact_key").collect()
    }
    # tick 2: a re-crawl of page one 10 minutes later (inside the 1 h
    # watermark) + one genuinely new page, appended to the source dir
    t1 = t0 + datetime.timedelta(minutes=10)
    b2 = spark.createDataFrame(
        [
            ("https://a.com/1?recrawl", t1, None, "page one body text", "en"),
            ("https://a.com/3", t1, None, "page three body text", "en"),
        ],
        PAGES_SCHEMA,
    )
    b2.write.mode("append").parquet(src)
    q2 = ingest.start_ingest_dedup(spark, src, out, ckpt, PAGES_SCHEMA)
    q2.awaitTermination(120)
    got2 = spark.read.parquet(out).collect()
    urls = {r["url"] for r in got2}
    assert len(got2) == 3  # re-crawl suppressed by RESTORED state
    assert "https://a.com/3" in urls
    assert "https://a.com/1?recrawl" not in urls


def test_ingest_key_matches_batch_exact_key(spark):
    """The stream's content key must equal the batch pipeline's
    exact_key on every page shape — text-only, abbreviation variant
    (goes through the gated canonicalize UDF), html-only (text derived
    by the extraction UDF) and case/punctuation variant — so a page
    admitted at ingest and a page deduped in batch agree on identity."""
    import datetime

    from ny_campaign_finance_dedupe_spark.streaming import ingest

    t0 = datetime.datetime(2026, 1, 1)
    pages = spark.createDataFrame(
        [
            ("https://a.com/1", t0, None, "123 Main St", "en"),
            ("https://a.com/2", t0, None, "123 Main Street", "en"),
            ("https://a.com/3", t0, b"<p>Hello world</p>", None, "en"),
            ("https://a.com/4", t0, None, "plain page text", "en"),
            ("https://a.com/5", t0, None, "Page One, Body: TEXT!", "en"),
            ("https://a.com/6", t0, None, "page one body text", "en"),
        ],
        PAGES_SCHEMA,
    )
    pipe = DedupePipeline(PipelineConfig())
    batch = {
        r["url"]: r["exact_key"]
        for r in pipe.signatures(pipe.extract(pages))
        .select("url", "exact_key")
        .collect()
    }
    stream = {
        r["url"]: r["exact_key"]
        for r in ingest.with_content_key(pages)
        .select("url", "exact_key")
        .collect()
    }
    assert batch == stream and len(batch) == 6
    # normalization-identity: case/punct variants are the SAME page
    assert stream["https://a.com/5"] == stream["https://a.com/6"]


def test_stateful_ingest_dedup_with_counts(spark, tmp_path):
    """applyInPandasWithState custom operator: admitted rows carry the
    deterministic winner and within-batch dup count; later batches emit
    admitted=False audit rows with running total_seen; state survives a
    query restart via the checkpoint — the suppression lineage
    dropDuplicatesWithinWatermark cannot report."""
    import datetime

    from ny_campaign_finance_dedupe_spark.streaming import ingest

    t0 = datetime.datetime(2026, 1, 1, 12, 0)
    src = str(tmp_path / "st_src")
    out = str(tmp_path / "st_out")
    ckpt = str(tmp_path / "st_ckpt")
    b1 = spark.createDataFrame(
        [
            ("https://a.com/1", t0, None, "page one body text", "en"),
            # mirror: same content in the SAME batch
            ("https://b.com/1", t0, None, "page one body text", "en"),
            ("https://a.com/2", t0, None, "page two body text", "en"),
        ],
        PAGES_SCHEMA,
    )
    b1.write.parquet(src)
    q = ingest.start_ingest_dedup_with_counts(
        spark, src, out, ckpt, PAGES_SCHEMA
    )
    q.awaitTermination(120)
    got1 = {
        (r["url"], r["admitted"], r["dups_in_batch"], r["total_seen"])
        for r in spark.read.parquet(out).collect()
    }
    assert got1 == {
        # winner = min (warc_ts, url): a.com sorts before b.com
        ("https://a.com/1", True, 1, 2),
        ("https://a.com/2", True, 0, 1),
    }
    # tick 2 (restart against the same checkpoint): two re-crawls of
    # page one + one new page
    t1 = t0 + datetime.timedelta(minutes=10)
    b2 = spark.createDataFrame(
        [
            ("https://a.com/1?r1", t1, None, "page one body text", "en"),
            ("https://a.com/1?r2", t1, None, "page one body text", "en"),
            ("https://a.com/3", t1, None, "page three body text", "en"),
        ],
        PAGES_SCHEMA,
    )
    b2.write.mode("append").parquet(src)
    q2 = ingest.start_ingest_dedup_with_counts(
        spark, src, out, ckpt, PAGES_SCHEMA
    )
    q2.awaitTermination(120)
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 4
    audit = [r for r in rows if not r["admitted"]]
    assert len(audit) == 1
    # restored state: first_url remembered, counts accumulate 2 + 2
    assert audit[0]["url"] == "https://a.com/1"
    assert audit[0]["dups_in_batch"] == 2
    assert audit[0]["total_seen"] == 4
    admitted = {r["url"] for r in rows if r["admitted"]}
    assert admitted == {
        "https://a.com/1",
        "https://a.com/2",
        "https://a.com/3",
    }


# ---- composed crawl pipeline (streaming/crawl.py) ----


def test_match_novel_batch_composition(spark, tmp_path):
    """The composed batch kernel: exact re-crawls are suppressed by the
    Bloom stage, near-duplicate novel pages adopt their gazetteer
    match's cluster, fresh pages found singleton clusters."""
    from ny_campaign_finance_dedupe_spark.streaming import crawl

    pages, _ = synth_pages(spark, n_pages=200, seed=11, dup_rate=0.0)
    history = pages.localCheckpoint()
    cfg = PipelineConfig()
    keys, bidx = crawl.build_history_index(history, n_buckets=8)
    keys = keys.localCheckpoint()
    bidx = bidx.localCheckpoint()
    index = incremental.build_index(history, cfg).localCheckpoint()

    one = history.limit(1).collect()[0]
    batch = spark.createDataFrame(
        [
            # exact re-crawl of a history page under a new url -> suppressed
            ("https://re.example.com/a", one["warc_ts"], one["html"],
             one["text"], one["lang"]),
            # near-duplicate (one extra token) -> novel, matched
            ("https://near.example.com/b", one["warc_ts"], None,
             one["text"] + " zzzextra", one["lang"]),
            # fresh page -> novel singleton
            ("https://fresh.example.com/c", None, None,
             "entirely new vocabulary never appearing in the corpus qqq",
             "en"),
        ],
        PAGES_SCHEMA,
    )
    out = {
        r["record_id"]: r
        for r in crawl.match_novel_batch(
            batch, keys, bidx, index, cfg
        ).collect()
    }
    assert "https://re.example.com/a" not in out  # suppressed as known
    near = out["https://near.example.com/b"]
    assert near["matched"] and near["cluster_id"] == one["url"]
    assert near["cluster_score"] > 0.9
    fresh = out["https://fresh.example.com/c"]
    assert (not fresh["matched"]) and fresh["cluster_id"] == fresh["record_id"]
    assert fresh["cluster_score"] == 1.0


def test_crawl_pipeline_restart_resumes(spark, tmp_path):
    """End-to-end streaming composition with checkpoint restart: tick 1
    processes the first file set; a restarted query against the same
    checkpoint must NOT re-append tick-1 batches and must pick up the
    new file."""
    from ny_campaign_finance_dedupe_spark.streaming import crawl

    pages, _ = synth_pages(spark, n_pages=150, seed=13, dup_rate=0.0)
    history = pages.localCheckpoint()
    cfg = PipelineConfig()
    keys, bidx = crawl.build_history_index(history, n_buckets=8)
    keys = keys.localCheckpoint()
    bidx = bidx.localCheckpoint()
    index = incremental.build_index(history, cfg).localCheckpoint()

    src = str(tmp_path / "src")
    out = str(tmp_path / "entity_map")
    ckpt = str(tmp_path / "ckpt")
    one = history.limit(1).collect()[0]

    t1 = spark.createDataFrame(
        [
            ("https://t1.example.com/near", one["warc_ts"], None,
             one["text"] + " zzzextra", one["lang"]),
            ("https://t1.example.com/fresh", None, None,
             "first tick fresh page with novel words qqq", "en"),
        ],
        PAGES_SCHEMA,
    )
    t1.write.mode("append").parquet(src)
    q1 = crawl.start_crawl_pipeline(
        spark, src, keys, bidx, index, cfg, out, ckpt, PAGES_SCHEMA
    )
    q1.awaitTermination(120)
    got1 = spark.read.parquet(out).collect()
    assert {r["record_id"] for r in got1} == {
        "https://t1.example.com/near", "https://t1.example.com/fresh"
    }

    # tick 2: ONE new file; restart against the same checkpoint
    t2 = spark.createDataFrame(
        [("https://t2.example.com/fresh", None, None,
          "second tick fresh page with different novel words www", "en")],
        PAGES_SCHEMA,
    )
    t2.write.mode("append").parquet(src)
    q2 = crawl.start_crawl_pipeline(
        spark, src, keys, bidx, index, cfg, out, ckpt, PAGES_SCHEMA
    )
    q2.awaitTermination(120)
    got2 = spark.read.parquet(out).collect()
    counts = {}
    for r in got2:
        counts[r["record_id"]] = counts.get(r["record_id"], 0) + 1
    # exactly-once at file granularity: nothing duplicated on restart
    assert counts == {
        "https://t1.example.com/near": 1,
        "https://t1.example.com/fresh": 1,
        "https://t2.example.com/fresh": 1,
    }
    near = {r["record_id"]: r for r in got2}["https://t1.example.com/near"]
    assert near["matched"] and near["cluster_id"] == one["url"]


def test_crawl_sink_replay_is_idempotent(spark, tmp_path, crawl_history):
    """foreachBatch is at-least-once: a batch whose commit never landed
    (a crash between the sink write and the commit) re-runs under the
    same batch_id on restart. The sink overwrites that batch_id's
    partition, so the replay leaves each record exactly once."""
    from pathlib import Path

    from ny_campaign_finance_dedupe_spark.streaming import crawl

    _, keys, bidx, index = crawl_history
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "entity_map", "ckpt"))
    spark.createDataFrame(
        [("https://replay.example.com/1", None, None,
          "a replayed fresh page with novel words rrr", "en"),
         ("https://replay.example.com/2", None, None,
          "another replayed fresh page with other words sss", "en")],
        PAGES_SCHEMA,
    ).write.parquet(src)

    def tick():
        q = crawl.start_crawl_pipeline(
            spark, src, keys, bidx, index, PipelineConfig(), out, ckpt,
            PAGES_SCHEMA,
        )
        q.awaitTermination(120)
        return {p["batchId"] for p in q.recentProgress if p["numInputRows"]}

    (batch_id,) = tick()
    commits = Path(ckpt) / "commits"
    for name in (str(batch_id), f".{batch_id}.crc"):
        (commits / name).unlink(missing_ok=True)
    assert tick() == {batch_id}  # the same batch really ran again
    counts = {
        r["record_id"]: r["count"]
        for r in spark.read.parquet(out).groupBy("record_id").count().collect()
    }
    assert counts == {
        "https://replay.example.com/1": 1,
        "https://replay.example.com/2": 1,
    }


def test_match_novel_batch_forwards_bloom_strategy(spark):
    """The Bloom probe's join is the engine's choice: with broadcasting
    switched off (session threshold -1) the tick shuffle-joins the
    index on the bucket and must produce the same entity map as the
    default broadcast path."""
    from ny_campaign_finance_dedupe_spark.streaming import crawl

    pages, _ = synth_pages(spark, n_pages=120, seed=17, dup_rate=0.0)
    history = pages.localCheckpoint()
    cfg = PipelineConfig()
    keys, bidx = crawl.build_history_index(history, n_buckets=8)
    keys = keys.localCheckpoint()
    bidx = bidx.localCheckpoint()
    index = incremental.build_index(history, cfg).localCheckpoint()
    one = history.limit(1).collect()[0]
    batch = spark.createDataFrame(
        [
            ("https://re.example.com/x", one["warc_ts"], None,
             one["text"], one["lang"]),
            ("https://fresh.example.com/y", None, None,
             "strategy forwarding fresh page vocabulary kkk", "en"),
        ],
        PAGES_SCHEMA,
    )

    def entity_map():
        return sorted(
            (r["record_id"], r["cluster_id"], r["matched"])
            for r in crawl.match_novel_batch(
                batch, keys, bidx, index, cfg
            ).collect()
        )

    broadcast = entity_map()
    conf = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "-1")
    try:
        shuffled = entity_map()
    finally:
        spark.conf.set(conf, old)
    assert broadcast == shuffled
    assert [r[0] for r in shuffled] == ["https://fresh.example.com/y"]


@pytest.fixture(scope="module")
def crawl_history(spark):
    """(keys, bloom index, blocking index) over 120 history pages, each
    checkpointed like an epoch's persisted artifacts."""
    from ny_campaign_finance_dedupe_spark.streaming import crawl

    pages, _ = synth_pages(spark, n_pages=120, seed=19, dup_rate=0.0)
    history = pages.localCheckpoint()
    keys, bidx = crawl.build_history_index(history, n_buckets=8)
    index = incremental.build_index(history, PipelineConfig())
    return (
        history, keys.localCheckpoint(), bidx.localCheckpoint(),
        index.localCheckpoint(),
    )


def test_match_novel_batch_extracts_once(spark, crawl_history):
    """A tick normalizes each page once: the extract pass sits behind the
    batch's checkpoint, so the result's plan re-runs no html extraction
    for any of its consumers (Bloom branches, match, adopt-or-found)."""
    from ny_campaign_finance_dedupe_spark.streaming import crawl

    history, keys, bidx, index = crawl_history
    one = history.limit(1).collect()[0]
    batch = spark.createDataFrame(
        [("https://near.example.com/b", one["warc_ts"], None,
          one["text"] + " zzzextra", one["lang"]),
         ("https://fresh.example.com/c", None, b"<p>fresh html page</p>",
          None, "en")],
        PAGES_SCHEMA,
    )
    out = crawl.match_novel_batch(
        batch, keys, bidx, index, PipelineConfig()
    )
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "extended"
    )
    assert "_extract_batch" not in plan, plan
    assert {r["record_id"] for r in out.collect()} == {
        "https://near.example.com/b", "https://fresh.example.com/c"
    }


def test_match_novel_batch_signs_novel_rows_once(
    spark, crawl_history, monkeypatch
):
    """A tick runs the signature kernel once per novel page and never on
    a suppressed one: the signatures ride in the localCheckpointed novel
    rows, so match_batch's three reads of them (block cap, blocking
    join, ntext join) re-run no kernel. Counted at the kernel itself
    (rows in, summed over tasks), because the optimizer pushes the
    signing projection into both disjoint branches of the novel-rows
    union; the result's own plan holds no Python kernel at all."""
    from collections.abc import Iterator

    import pandas as pd
    import pyspark.sql.functions as F

    from ny_campaign_finance_dedupe_spark.functions import hashing
    from ny_campaign_finance_dedupe_spark.streaming import crawl

    rows_in = spark.sparkContext.accumulator(0)
    real = hashing.minhash_simhash_udf

    def counted_udf(*args, **kwargs):
        udf = real(*args, **kwargs)
        kernel = udf.func

        def counted(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
            for grams in it:
                rows_in.add(len(grams))
                yield from kernel(iter([grams]))

        return F.pandas_udf(counted, udf.returnType)

    monkeypatch.setattr(hashing, "minhash_simhash_udf", counted_udf)
    history, keys, bidx, index = crawl_history
    one = history.limit(1).collect()[0]
    batch = spark.createDataFrame(
        [("https://re.example.com/a", one["warc_ts"], one["html"],
          one["text"], one["lang"]),
         ("https://near.example.com/b", one["warc_ts"], None,
          one["text"] + " zzzextra", one["lang"]),
         ("https://fresh.example.com/c", None, None,
          "entirely new vocabulary qqq", "en")],
        PAGES_SCHEMA,
    )
    out = crawl.match_novel_batch(batch, keys, bidx, index, PipelineConfig())
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan, plan
    rows = {r["record_id"]: r["cluster_id"] for r in out.collect()}
    assert rows == {
        "https://near.example.com/b": one["url"],
        "https://fresh.example.com/c": "https://fresh.example.com/c",
    }
    assert rows_in.value == 2


def test_match_novel_batch_honours_lang_filter(spark, crawl_history):
    """The crawl drops other-language pages as batch extract does: a
    page whose lang is not cfg.lang_filter yields no entity-map row."""
    from ny_campaign_finance_dedupe_spark.streaming import crawl

    _, keys, bidx, index = crawl_history
    batch = spark.createDataFrame(
        [("https://en.example.com/1", None, None,
          "an english page with fresh vocabulary qqq", "en"),
         ("https://fr.example.com/1", None, None,
          "une page francaise au vocabulaire nouveau qqq", "fr")],
        PAGES_SCHEMA,
    )
    out = crawl.match_novel_batch(
        batch, keys, bidx, index, PipelineConfig(lang_filter="en")
    )
    assert [r["record_id"] for r in out.collect()] == [
        "https://en.example.com/1"
    ]
