"""Streaming crawl-ingest exact dedup: suppress re-crawled duplicate
pages at ingestion time, before they ever reach storage.

Batch twin: ``operators/dedup.exact_duplicates`` (P5) — the key is the
same sha2 over the same normalization chain, so a page admitted by the
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
from pyspark.sql import DataFrame
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from ..functions import normalize


def content_key(text_col, html_col=None) -> "F.Column":
    """sha2-256 identity key over the SAME ntext chain the batch
    pipeline hashes (DedupePipeline.extract -> signatures' exact_key:
    html fallback, normalize_text, gated abbrev canonicalization), so
    stream and batch dedup agree on what "the same page" means — an
    abbreviation variant ('123 Main St' vs '123 Main Street') is ONE
    page in both. Single-expression form: fine for a key (one consumer);
    the batch extract's two-step select exists because IT fans ntext out
    to many downstream expressions."""
    txt = text_col
    if html_col is not None:
        txt = F.coalesce(
            text_col,
            normalize.extract_text_udf()(
                F.when(text_col.isNull(), html_col)
            ),
        )
    nt = normalize.normalize_text(txt)
    gated = normalize.canonicalize_udf()(
        F.when(nt.rlike(normalize.any_abbrev_pattern()), nt)
    )
    return F.sha2(F.coalesce(gated, nt), 256)


def with_content_key(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, text, ...) + exact_key. NULL-normalized
    texts (no text AND no extractable html) get the url itself as key
    (never dropped as dups of each other — matching batch, where a null
    exact_key never forms an exact block, pipeline.predicates)."""
    # two-step select: nt feeds three expressions (rlike gate, UDF arg,
    # coalesce fallback) — compute the normalize chain once per row
    nt = normalize.normalize_text(
        F.coalesce(
            F.col("text"),
            normalize.extract_text_udf()(
                F.when(F.col("text").isNull(), F.col("html"))
            ),
        )
    )
    pre = pages.withColumn("_nt", nt)
    gated = normalize.canonicalize_udf()(
        F.when(
            F.col("_nt").rlike(normalize.any_abbrev_pattern()), F.col("_nt")
        )
    )
    return pre.withColumn(
        "exact_key",
        F.coalesce(
            F.sha2(F.coalesce(gated, F.col("_nt")), 256), F.col("url")
        ),
    ).drop("_nt")


def start_page_stream(
    spark,
    stream_source_dir: str,
    pages_schema,
    watermark: str,
    checkpoint_dir: str,
    to_writer: Callable[[DataFrame], DataStreamWriter],
) -> StreamingQuery:
    """The one file-source query shape every ``start_*`` entry point
    runs: parquet pages stream watermarked on ``warc_ts`` ->
    ``to_writer(stream)`` (the query's transform + sink) ->
    ``checkpointLocation`` -> ``trigger(availableNow)`` -> start.
    availableNow drains what exists and stops, so repeated calls against
    a growing source directory are the crawl's ingestion ticks; each
    restart resumes from ``checkpoint_dir``."""
    stream = (
        spark.readStream.schema(pages_schema)
        .parquet(stream_source_dir)
        .withWatermark("warc_ts", watermark)
    )
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
        spark, stream_source_dir, pages_schema, watermark, checkpoint_dir,
        lambda stream: with_content_key(stream)
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
            with_content_key(stream)
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
        spark, stream_source_dir, pages_schema, watermark, checkpoint_dir,
        audited,
    )
