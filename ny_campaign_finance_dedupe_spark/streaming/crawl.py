"""The composed incremental crawl pipeline — the production shape a
crawler actually runs, wiring three pieces that each exist (and are
tested) separately into ONE foreachBatch streaming query:

  readStream(pages)
    -> DedupePipeline.extract (the one page-text chain, lang_filter
       included) + ingest.exact_key (the ingest dedup's key, so stream
       and batch agree on "same page") + the Bloom probe against the
       indexed history, localCheckpointed: every step below reads that
       frame, so a tick normalizes and probes each page once
    -> exact novelty (operators/bloom — negatives are certainly novel
       and skip the join entirely; the small positive remainder pays an
       exact confirm anti-join against the history KEY projection,
       never the corpus)
    -> gazetteer match of the novel pages, with their ntext, against
       the static blocking index (incremental.match_batch — same
       predicates, features and model as batch; it never re-extracts)
    -> entity-map write per batch_id: a novel page adopts its best
       match's url as cluster id (the gazetteer decision, reference
       api.py:612-896), or founds a new singleton cluster when nothing
       clears the threshold. Non-novel pages are suppressed before
       matching — that is the point of the Bloom stage at 100 TB/day.

Scale shape per micro-batch: one Arrow extract pass and one Arrow bloom
probe (a bucket equi-join the engine broadcasts or shuffles by the
index's size — bloom.bloom_probe), localCheckpointed together, one
anti-join whose history side is the key column, then one Arrow
signature pass over the novel rows only (localCheckpointed with them),
one stream-static equi-join on block_key and one window rank.
History artifacts (bloom index + key projection + blocking index) are
built once per ingest epoch and persisted; between epochs they are
plain parquet appends. The Bloom index carries its own
geometry (bloom.build_bloom_index): build_history_index sets the bucket
count once and every probe reads it back from the index.

Restart semantics ride the streaming checkpoint: the file source tracks
consumed files, so a restarted availableNow query resumes at the first
unseen file (pinned by test_crawl_pipeline_restart_resumes). A batch
that ran but was not committed before a crash re-runs under the same
batch_id; the sink overwrites that batch_id's partition, so the replay
replaces its rows instead of adding them twice (pinned by
test_crawl_sink_replay_is_idempotent).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..operators import bloom
from ..plans.pipeline import DedupePipeline
from . import incremental, ingest

PAGE_COLS = ["url", "warc_ts", "html", "text", "lang"]


def build_history_index(
    history_pages: DataFrame, *, n_buckets: int = 64
) -> tuple[DataFrame, DataFrame]:
    """History side, built once per epoch: (history_keys, bloom_index).

    ``history_keys`` is the distinct content-key projection (one 64-hex
    string per distinct page identity — the exact-confirm side);
    ``bloom_index`` is the partitioned Bloom filter over the same keys.
    Both are returned unmaterialized — persist/localCheckpoint them (or
    write them as parquet) before probing many batches.
    """
    keys = (
        ingest.with_content_key(history_pages)
        .select("exact_key")
        .distinct()
    )
    idx = bloom.build_bloom_index(
        keys, F.col("exact_key"), n_buckets=n_buckets
    )
    return keys, idx


def match_novel_batch(
    batch: DataFrame,
    history_keys: DataFrame,
    bloom_index: DataFrame,
    index: DataFrame,
    cfg,
) -> DataFrame:
    """One micro-batch -> entity-map rows for its NOVEL pages.

    Returns (record_id, cluster_id, cluster_score, exact_key, matched):
    cluster_id is the best gazetteer match's url when one clears
    ``cfg.score_threshold``, else the page's own url (new singleton
    entity). Pages whose content key is already in history yield no row
    (suppressed), and so do pages ``cfg.lang_filter`` drops, as in batch
    extract. Two localCheckpointed frames keep every step single-pass:
    the extracted, keyed and Bloom-probed batch (read by both branches
    of bloom.confirm_novel) and its signed novel rows (read by
    match_batch's three reads and the adopt-or-found join), so no
    consumer re-runs the extract, the Bloom kernel, the confirm
    anti-join or the signature kernel. Runs identically under
    foreachBatch or as a plain batch call (how the tests drive it
    deterministically).
    """
    pipe = DedupePipeline(cfg)
    probed = bloom.bloom_probe(
        pipe.extract(batch).withColumn("exact_key", ingest.exact_key()),
        bloom_index,
        F.col("exact_key"),
    ).localCheckpoint()
    # the content key steps aside for the signatures' exact_key (no url
    # fallback), so the crawl blocks on the keys the batch pipeline uses
    novel = pipe.with_signatures(
        bloom.confirm_novel(
            probed, "exact_key", history_keys
        ).withColumnRenamed("exact_key", "content_key")
    ).localCheckpoint()
    matches = incremental.match_batch(novel, index, cfg, n_matches=1)
    best = matches.where(F.col("rank") == 1).select(
        F.col("query_url").alias("record_id"),
        F.col("match_url"),
        F.col("score"),
    )
    return (
        novel.select(
            F.col("url").alias("record_id"),
            F.col("content_key").alias("exact_key"),
        )
        .join(best, "record_id", "left")
        .select(
            "record_id",
            F.coalesce(F.col("match_url"), F.col("record_id")).alias(
                "cluster_id"
            ),
            F.coalesce(F.col("score"), F.lit(1.0)).alias("cluster_score"),
            "exact_key",
            F.col("match_url").isNotNull().alias("matched"),
        )
    )


def start_crawl_pipeline(
    spark,
    stream_source_dir: str,
    history_keys: DataFrame,
    bloom_index: DataFrame,
    index: DataFrame,
    cfg,
    out_dir: str,
    checkpoint_dir: str,
    pages_schema,
):
    """Wire the composed query: file-source pages stream ->
    foreachBatch(match_novel_batch) -> entity-map parquet, one
    ``batch_id=<n>`` partition per micro-batch.

    ``trigger(availableNow)`` drains the source directory and stops, so
    repeated calls are the crawl's ingestion ticks; each restart resumes
    from ``checkpoint_dir``. foreachBatch is at-least-once: a batch
    whose commit never landed re-runs under the same batch_id after a
    restart. The sink therefore overwrites its own ``batch_id``
    partition (dynamic partition overwrite) rather than appending, so a
    replay leaves each record once. The stream has no watermark: no
    stage of it holds state, so every file-source row reaches the batch.
    """

    def sink(batch_df: DataFrame, batch_id: int):
        out = match_novel_batch(batch_df, history_keys, bloom_index, index, cfg)
        (
            out.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_dir)
        )

    return ingest.start_page_stream(
        spark, stream_source_dir, pages_schema, checkpoint_dir,
        lambda stream: stream.writeStream.foreachBatch(sink),
    )
