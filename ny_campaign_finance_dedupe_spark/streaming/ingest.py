"""Streaming crawl-ingest exact dedup: suppress re-crawled duplicate
pages at ingestion time, before they ever reach storage.

Batch twin: ``operators/dedup.exact_duplicates`` (P5). The key is the
same sha2 over the one page-text chain (``normalize.with_ntext``, which
batch extract and the crawl match also run), so a page admitted by the
stream and a page deduped in batch agree on identity. The streaming form
uses Spark's native stateful dedup operator
(``dropDuplicatesWithinWatermark``): state is keyed by the content hash,
expired by the event-time watermark (a re-crawl AFTER the watermark
horizon is re-admitted by design — content may have changed meaning by
then, and unbounded state at 10^12 urls/day is the alternative), and
persisted in the streaming checkpoint, so a restarted query resumes with
its dedup memory intact (pinned by test).

Scale shape: state lives in the state store partitioned by key hash —
no driver membership set, no broadcast; per micro-batch cost is one
shuffle on the 64-hex key. The watermark bounds state size to
(ingest rate x delay), the knob a 100 TB/day crawl tunes.
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from ..functions import normalize


def exact_key() -> Column:
    """The content key over an ``ntext`` column: sha2-256 of the
    normalized text, the batch pipeline's exact_key. A NULL ntext (no
    text AND no extractable html) keys on the url itself, so such pages
    are never dropped as dups of each other — matching batch, where a
    null exact_key never forms an exact block (pipeline.predicates)."""
    return F.coalesce(F.sha2(F.col("ntext"), 256), F.col("url"))


def with_content_key(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, text, ...) + exact_key: the one
    page-text chain (normalize.with_ntext — what batch extract runs, so
    stream and batch agree on what "the same page" means, and an
    abbreviation variant is ONE page in both) keyed by
    :func:`exact_key`; ntext itself is dropped."""
    return (
        normalize.with_ntext(pages)
        .withColumn("exact_key", exact_key())
        .drop("ntext")
    )


def start_page_stream(
    spark,
    stream_source_dir: str,
    pages_schema,
    checkpoint_dir: str,
    to_writer: Callable[[DataFrame], DataStreamWriter],
) -> StreamingQuery:
    """The one file-source query shape every ``start_*`` entry point
    runs: parquet pages stream -> ``to_writer(stream)`` (the query's
    transform + sink; a stateful transform sets its own watermark) ->
    ``checkpointLocation`` -> ``trigger(availableNow)`` -> start.
    availableNow drains what exists and stops, so repeated calls against
    a growing source directory are the crawl's ingestion ticks; each
    restart resumes from ``checkpoint_dir``."""
    stream = spark.readStream.schema(pages_schema).parquet(stream_source_dir)
    return (
        to_writer(stream)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_ingest_dedup(
    spark,
    stream_source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    pages_schema,
    watermark: str = "1 hour",
):
    """File-source pages stream -> watermarked stateful exact dedup ->
    append parquet sink (``start_page_stream``); each restart reloads
    dedup state from ``checkpoint_dir``."""
    return start_page_stream(
        spark, stream_source_dir, pages_schema, checkpoint_dir,
        lambda stream: with_content_key(
            stream.withWatermark("warc_ts", watermark)
        )
        .dropDuplicatesWithinWatermark(["exact_key"])
        .writeStream.format("parquet")
        .option("path", out_dir),
    )


def start_ingest_dedup_with_counts(
    spark,
    stream_source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    pages_schema,
    watermark: str = "1 hour",
    state_ttl_ms: int = 3_600_000,
):
    """Custom stateful ingest dedup with suppression lineage — the
    operator ``dropDuplicatesWithinWatermark`` cannot express: admitted
    pages AND an audit row per (key, batch) counting the re-crawls that
    were suppressed, with running ``total_seen``. A 100 TB/day crawl
    needs those counts (re-crawl rate per content key is the crawl
    scheduler's feedback signal); the built-in drops silently.

    Implementation: ``applyInPandasWithState`` over the content key.
    State is (first_url, n_seen); event-time timeout clears a key
    ``state_ttl_ms`` past its latest observed event time (bounding state
    exactly like the watermark does for the built-in — re-crawls after
    the horizon are re-admitted by design). Emitted rows (append mode,
    parquet sink):

      (exact_key, url, admitted, dups_in_batch, total_seen)

    - first batch containing a key: admitted=True, url = the winner
      (min (warc_ts, url) — deterministic at any partitioning),
      dups_in_batch = extra copies in that same batch;
    - later batches: admitted=False audit row, dups_in_batch = suppressed
      copies, total_seen = running count — the suppression lineage.

    State store scale shape matches the built-in: keyed by the 64-hex
    content hash, one shuffle per micro-batch, no driver state.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_type = (
        "exact_key string, url string, admitted boolean,"
        " dups_in_batch long, total_seen long"
    )
    state_type = "first_url string, n_seen long"

    def fn(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            return
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["warc_ts", "url"])
        n_new = len(rows)
        if state.exists:
            first_url, n_seen = state.get
            admitted = False
            dups = n_new
            total = n_seen + n_new
        else:
            first_url = rows["url"].iloc[0]
            admitted = True
            dups = n_new - 1
            total = n_new
        state.update((first_url, total))
        # event-time TTL: latest event in this group + ttl, floored just
        # past the current watermark (setTimeoutTimestamp must be ahead
        # of it)
        wm = state.getCurrentWatermarkMs()
        ts = rows["warc_ts"].max()
        ts_ms = int(ts.timestamp() * 1000) if pd.notna(ts) else wm
        state.setTimeoutTimestamp(max(ts_ms, wm + 1) + state_ttl_ms)
        yield pd.DataFrame(
            [
                {
                    "exact_key": key[0],
                    "url": first_url,
                    "admitted": admitted,
                    "dups_in_batch": dups,
                    "total_seen": total,
                }
            ]
        )

    def audited(stream: DataFrame) -> DataStreamWriter:
        return (
            with_content_key(stream.withWatermark("warc_ts", watermark))
            .select("exact_key", "url", "warc_ts")
            .groupBy("exact_key")
            .applyInPandasWithState(
                fn,
                outputStructType=out_type,
                stateStructType=state_type,
                outputMode="append",
                timeoutConf=GroupStateTimeout.EventTimeTimeout,
            )
            .writeStream.format("parquet")
            .option("path", out_dir)
        )

    return start_page_stream(
        spark, stream_source_dir, pages_schema, checkpoint_dir, audited
    )
