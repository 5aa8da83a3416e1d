"""Incremental matching: stream of new pages vs a persistent indexed corpus.

Reference: the Gazetteer API (dedupe/api.py:612-896) — maintain an indexed
canonical set, ``index``/``unindex`` deltas, ``search`` each new batch,
return top-N matches per query (clustering.py:280-308). Its driver-side
inverted index becomes a *stream-static equi-join on block_key* against a
persisted blocking map; the per-block top-N becomes a window rank inside
``foreachBatch``.

Shape: ``match_batch`` = batch blocking keys over signed extract-stage
rows -> join static index -> score (same native expression as batch) ->
top-N per query url. It never extracts or signs: the caller runs the one
page-text chain (``DedupePipeline.extract``) and the signature kernel
(``DedupePipeline.with_signatures``) once per page; only ``build_index``
extracts here. crawl.start_crawl_pipeline runs the match per
micro-batch, after Bloom novelty. The static index is reloaded per batch
(a cheap metadata op with parquet), so index/unindex are plain
appends/deletes on the index table between batches.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..operators import scoring
from ..plans.pipeline import DedupePipeline


def build_index(pages: DataFrame, cfg) -> DataFrame:
    """Static side: (block_key, url, ntext) for the indexed corpus.

    ``cfg`` is a plans.pipeline.PipelineConfig; the key families MUST be
    the same expressions as the batch pipeline so stream and batch block
    identically (the reference shares Fingerprinter between Dedupe and
    Gazetteer for the same reason, blocking.py:48-104).
    """
    pipe = DedupePipeline(cfg)
    extracted = pipe.extract(pages)
    bm = pipe.block(pipe.signatures(extracted))
    # ntext hydrates from the extract output — the signatures stage is
    # keys-only by design (see DedupePipeline.signatures)
    return bm.join(
        extracted.select(F.col("url").alias("record_id"), "ntext"), "record_id"
    ).select("block_key", F.col("record_id").alias("url"), "ntext")


def match_batch(
    batch: DataFrame,
    index: DataFrame,
    cfg,
    n_matches: int = 1,
) -> DataFrame:
    """One micro-batch of signed extract-stage rows (url, ntext,
    exact_key, sig, simhash — ``DedupePipeline(cfg).with_signatures``
    over ``extract`` output; extra columns are ignored) -> top-N scored
    matches vs the index. ``batch`` is read three times (the block cap,
    the blocking join and the ntext join), so a caller that signs with
    the fast family's Arrow kernel materializes it first, as the crawl
    does.

    Returns (query_url, match_url, score, rank), ranked on the logit then
    url like the oracles (a saturated sigmoid ties distinct logits). Pure
    DataFrame ops, so it runs identically under foreachBatch or as a
    plain batch call (which is how the tests drive it deterministically).
    A match is kept at ``cfg.score_threshold``, so stream and batch
    accept at the SAME configured score.
    """
    bm = DedupePipeline(cfg).block(batch)
    qk = bm.join(
        batch.select(F.col("url").alias("record_id"), F.col("ntext").alias("q_ntext")),
        "record_id",
    ).select("block_key", F.col("record_id").alias("query_url"), "q_ntext")
    cand = (
        qk.join(index, "block_key")
        .where(F.col("query_url") != F.col("url"))
        .dropDuplicates(["query_url", "url"])
    )
    feats = scoring.with_features(
        cand.withColumnRenamed("q_ntext", "text_a").withColumnRenamed(
            "ntext", "text_b"
        )
    )
    model = scoring.LogisticModel.from_dict(cfg.model)
    scored = scoring.score_pairs(feats, model).withColumn(
        "_z", model.logit_column()
    )
    w = Window.partitionBy("query_url").orderBy(F.desc("_z"), F.asc("url"))
    return (
        scored.where(F.col("score") >= cfg.score_threshold)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= n_matches)
        .select(
            "query_url", F.col("url").alias("match_url"), "score", "rank"
        )
    )
