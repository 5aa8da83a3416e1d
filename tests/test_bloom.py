"""Partitioned Bloom-filter incremental dedup (operators/bloom.py).

Pins the two properties the operator's exactness rests on — zero false
negatives in the filter, exact novelty after the confirm join — plus
the scale-relevant ones: the prefilter actually shrinks the confirm
join, the build shuffle carries hashes only (never the payload), and
NULL payloads follow the repo's marker-key convention.
"""

import pyspark.sql.functions as F
import pytest

from ny_campaign_finance_dedupe_spark.operators import bloom


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [(i, f"document body number {i} with shared vocabulary") for i in range(400)]
    return spark.createDataFrame(rows, "doc_id bigint, text string").localCheckpoint()


def _expected_novel(spark, batch, history):
    return {
        r["doc_id"]
        for r in batch.join(
            history.select("text").distinct(),
            batch["text"].eqNullSafe(history["text"]),
            "left_anti",
        ).collect()
    }


def test_novelty_matches_exact_anti_join(spark, corpus):
    history = corpus.filter(F.col("doc_id") % 4 != 0)
    # batch: 50 true dups of history rows (new ids) + 50 novel texts
    dups = (
        corpus.filter(F.col("doc_id") % 4 == 1)
        .limit(50)
        .select((F.col("doc_id") + 10_000).alias("doc_id"), "text")
    )
    novel = spark.range(50).select(
        (F.col("id") + 20_000).alias("doc_id"),
        F.concat(F.lit("entirely fresh text "), F.col("id")).alias("text"),
    )
    batch = dups.unionByName(novel).localCheckpoint()
    out = bloom.bloom_novelty(batch, history, "doc_id", "text", n_buckets=8)
    got = {r["record_id"] for r in out.collect()}
    assert got == _expected_novel(spark, batch, history)
    assert len(got) == 50  # exactly the novel half


def test_no_false_negatives_in_probe(spark, corpus):
    """Every key that IS in history must come back bloom_maybe=True —
    the Bloom guarantee the short-circuit path depends on."""
    key = bloom.payload_key(F.col("text"))
    index = bloom.build_bloom_index(corpus, key, n_buckets=8)
    keyed = corpus.select(F.col("doc_id").alias("record_id"), key.alias("_k"))
    flagged = bloom.bloom_probe(keyed, index, F.col("_k"))
    assert flagged.filter(~F.col("bloom_maybe")).count() == 0


def test_prefilter_shrinks_confirm_join(spark, corpus):
    """A fully-novel batch should be (almost) fully bloom-negative:
    at 16 bits/key + 8 probes the FP rate is ~4e-4, so 500 novel rows
    see at most a couple of strays — the confirm join is ~empty."""
    history = corpus
    key = bloom.payload_key(F.col("text"))
    index = bloom.build_bloom_index(history, key, n_buckets=8)
    novel = spark.range(500).select(
        F.col("id").alias("record_id"),
        bloom.payload_key(
            F.concat(F.lit("never seen before "), F.col("id"))
        ).alias("_k"),
    )
    flagged = bloom.bloom_probe(novel, index, F.col("_k"))
    positives = flagged.filter(F.col("bloom_maybe")).count()
    assert positives <= 5, f"FP rate far above design: {positives}/500"


def test_null_payload_follows_marker_convention(spark):
    history = spark.createDataFrame(
        [(1, None), (2, "present")], "doc_id bigint, text string"
    )
    batch = spark.createDataFrame(
        [(10, None), (11, "present"), (12, "new")],
        "doc_id bigint, text string",
    )
    out = bloom.bloom_novelty(batch, history, "doc_id", "text", n_buckets=4)
    got = {r["record_id"] for r in out.collect()}
    # NULL groups with NULL (SQL GROUP BY semantics) => 10 is a dup
    assert got == {12}


def test_build_shuffle_carries_hashes_not_payload(spark, corpus):
    """The index build's exchange must move (bucket, h1, h2) only: the
    payload column is projected away before the groupBy. A text column
    reaching the exchange would ship the corpus through the shuffle."""
    key = bloom.payload_key(F.col("text"))
    index = bloom.build_bloom_index(corpus, key, n_buckets=8)
    plan = index._sc._jvm.PythonSQLUtils.explainString(
        index._jdf.queryExecution(), "formatted"
    )
    (exchange,) = [
        ln for ln in plan.splitlines() if ln.strip().startswith("Arguments: hashpartitioning")
    ][:1]
    assert "text" not in exchange, exchange


def test_prebuilt_index_reuse(spark, corpus):
    """The production shape: build once, probe many batches."""
    history = corpus.filter(F.col("doc_id") < 200)
    key = bloom.payload_key(F.col("text"))
    index = bloom.build_bloom_index(history, key, n_buckets=8).localCheckpoint()
    b1 = corpus.filter(F.col("doc_id").between(100, 149))
    b2 = corpus.filter(F.col("doc_id").between(200, 249))
    out1 = bloom.bloom_novelty(b1, history, "doc_id", "text", index=index)
    out2 = bloom.bloom_novelty(b2, history, "doc_id", "text", index=index)
    assert out1.count() == 0  # b1 fully inside history
    assert out2.count() == 50  # b2 fully novel

#: The session's size gate for broadcast joins: the probe's join is
#: the engine's choice, so these tests steer it through this setting.
BROADCAST_THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


def _run(df):
    """Collect ``df`` -> (rows, its executed plan). The plan is read
    after the action, so it shows the join adaptive execution settled
    on from the index's measured size (an index whose lineage carries
    no size statistics, like this module's python-list corpus, is
    planned as a shuffle join and re-planned at run time)."""
    rows = df.collect()
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    return rows, plan


def test_join_strategy_matches_broadcast(spark, corpus):
    """With broadcasting switched off (session threshold -1) the engine
    shuffle-joins the probe on the bucket column, and it must flag
    exactly the same rows as the default broadcast probe — the kernel
    is shared, only the join topology differs."""
    history = corpus.filter(F.col("doc_id") % 3 != 0)
    key = bloom.payload_key(F.col("text"))
    index = bloom.build_bloom_index(history, key, n_buckets=16).localCheckpoint()
    keyed = corpus.select(F.col("doc_id").alias("record_id"), key.alias("_k"))

    def probe():
        rows, plan = _run(bloom.bloom_probe(keyed, index, F.col("_k")))
        return plan, sorted((r["record_id"], r["bloom_maybe"]) for r in rows)

    plan_bc, rows_bc = probe()
    old = spark.conf.get(BROADCAST_THRESHOLD)
    spark.conf.set(BROADCAST_THRESHOLD, "-1")
    try:
        plan_jn, rows_jn = probe()
    finally:
        spark.conf.set(BROADCAST_THRESHOLD, old)
    assert "BroadcastHashJoin" in plan_bc, plan_bc
    assert "BroadcastHashJoin" not in plan_jn, plan_jn
    assert rows_bc == rows_jn
    # spot-check multiple buckets actually exist in the index
    assert index.select("bucket").distinct().count() > 1


def test_auto_strategy_debroadcasts_over_threshold(spark, corpus):
    """Planted 10x-over-threshold index: the engine must pick a shuffle
    join on the bucket (no BroadcastHashJoin in the plan), and the
    novelty answer must stay exact. The session threshold is shrunk
    instead of building a multi-GB index."""
    history = corpus.filter(F.col("doc_id") % 4 != 0)
    key = bloom.payload_key(F.col("text"))
    index = bloom.build_bloom_index(history, key, n_buckets=8).localCheckpoint()
    tot_bytes = index.agg(F.sum("m")).collect()[0][0] // 8
    keyed = corpus.select(F.col("doc_id").alias("record_id"), key.alias("_k"))
    old = spark.conf.get(BROADCAST_THRESHOLD)
    spark.conf.set(BROADCAST_THRESHOLD, str(tot_bytes // 10))
    try:
        rows, plan = _run(bloom.bloom_probe(keyed, index, F.col("_k")))
    finally:
        spark.conf.set(BROADCAST_THRESHOLD, old)
    assert "BroadcastHashJoin" not in plan, plan
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan, plan
    # and the guarantee still holds end to end on the join path
    n_negative = sum(not r["bloom_maybe"] for r in rows)
    assert n_negative == corpus.count() - history.count()


def test_auto_strategy_broadcasts_under_threshold(spark, corpus):
    key = bloom.payload_key(F.col("text"))
    index = bloom.build_bloom_index(corpus, key, n_buckets=8).localCheckpoint()
    keyed = corpus.select(F.col("doc_id").alias("record_id"), key.alias("_k"))
    _, plan = _run(bloom.bloom_probe(keyed, index, F.col("_k")))
    assert "BroadcastHashJoin" in plan, plan


def _novel_ids(index, corpus, history):
    key = bloom.payload_key(F.col("text"))
    keyed = corpus.select("doc_id", key.alias("_k"))
    hist_keys = history.select(key.alias("_k"))
    return {
        r["doc_id"] for r in bloom.novel_rows(keyed, "_k", hist_keys, index).collect()
    }


def test_probe_reads_geometry_from_index(spark, corpus):
    """An index built with non-default geometry, probed with none given,
    yields the exact anti-join set: the probe hashes into the build's 8
    buckets and tests its 4 positions, so no history key reads as
    bloom-negative and skips the confirm join."""
    history = corpus.filter(F.col("doc_id") % 4 != 0)
    key = bloom.payload_key(F.col("text"))
    index = bloom.build_bloom_index(
        history, key, n_buckets=8, n_hashes=4
    ).localCheckpoint()
    assert _novel_ids(index, corpus, history) == _expected_novel(
        spark, corpus, history
    )
    assert bloom._geometry(index) == (8, 4)


def test_probe_without_geometry_metadata_raises(spark, corpus):
    """An index that did not come from build_bloom_index (no geometry
    metadata on ``bucket``) is refused, naming the missing key."""
    key = bloom.payload_key(F.col("text"))
    index = bloom.build_bloom_index(corpus, key, n_buckets=8)
    bare = index.withMetadata("bucket", {})
    keyed = corpus.select(F.col("doc_id").alias("record_id"), key.alias("_k"))
    with pytest.raises(ValueError, match="n_buckets"):
        bloom.bloom_probe(keyed, bare, F.col("_k"))


def test_geometry_survives_parquet_round_trip(spark, corpus, tmp_path):
    """The durable shape: an index written as parquet and read back
    keeps its geometry and still answers novelty exactly."""
    history = corpus.filter(F.col("doc_id") % 3 != 0)
    key = bloom.payload_key(F.col("text"))
    path = str(tmp_path / "bloom_index")
    bloom.build_bloom_index(history, key, n_buckets=8, n_hashes=4).write.parquet(path)
    back = spark.read.parquet(path)
    assert bloom._geometry(back) == (8, 4)
    assert _novel_ids(back, corpus, history) == _expected_novel(
        spark, corpus, history
    )
