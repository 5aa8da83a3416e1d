"""Partitioned Bloom-filter index for incremental dedup against history.

The reference's incremental story re-blocks every new batch against the
full historical table (dedupe Gazetteer semantics; see
dedupe_extension/gazetteer usage referenced from SURVEY.md §2.11). At
Common-Crawl scale the history side is ~10^12 keys, so "join every batch
against all of history" is the dominant cost even when the batch is tiny
and mostly novel. The standard engine answer is a *Bloom-filter index*:

1. ``build_bloom_index`` — one pass over history builds B independent
   Bloom filters, one per hash bucket of the key space. The shuffle
   carries only ``(bucket, h1, h2)`` — 20 bytes/key, never the payload —
   and each bucket's bitmap is sized from its own key count (m = next
   power of two >= bits_per_key * n). The index table is tiny relative
   to history (bits_per_key/8 bytes per key, ~2 GB per 10^9 keys at the
   default 16 bits) and is a durable artifact: persist it once, reuse it
   for every subsequent batch (write it as parquet like any other stage
   output). The index carries its own geometry: ``n_buckets`` and
   ``n_hashes`` ride as Spark column metadata on ``bucket``, which
   survives persist/localCheckpoint, a parquet round trip, renames and
   selects, and reads without a job.

2. ``bloom_probe`` — flags each batch row ``bloom_maybe`` by testing the
   k double-hashed bit positions (Kirsch-Mitzenmacher: pos_i = h1 + i*h2
   mod m) against its bucket's bitmap, joined on the bucket column
   (broadcast or shuffled: the engine picks from the index's size). The
   bucket count and k come from the index itself, so a probe cannot
   disagree with the build about either. Zero false negatives by
   construction; false-positive rate ~ (1 - e^(-k/bits_per_key))^k
   (~4e-4 at the 16/8 default).

3. ``bloom_novelty`` — EXACT novelty set: bloom-negative rows are novel
   with certainty and never touch history again; only the (small)
   bloom-positive remainder pays the exact confirm join. For a
   mostly-novel batch the expensive join shrinks by ~(1 - dup_rate),
   which is the whole point at 100 TB. The result is exact regardless of
   the filter's false positives, so the operator is oracle-checkable by
   a plain ANTI JOIN.

Key hashing is exact_duplicates' (dedup.payload_key): NULL payloads map
to a marker key that cannot collide with hex sha2 output, so they group
together under SQL GROUP BY NULL semantics instead of silently
vanishing.
"""

from __future__ import annotations

import pandas as pd

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from .dedup import payload_key

#: Default geometry: 16 bits/key with k=8 double-hashed probes gives a
#: false-positive rate of ~(1 - e^(-0.5))^8 ~= 4e-4 — at that rate the
#: exact confirm join on a 10^9-row mostly-novel batch sees ~4e5 stray
#: rows, i.e. noise. Raise bits_per_key for colder batches, lower it to
#: shrink the index.
BITS_PER_KEY = 16
N_HASHES = 8
MIN_BITS = 1 << 13  # floor so tiny buckets still spread bits (1 KiB)


def _hash_cols(key: Column) -> tuple[Column, Column]:
    """Two independent 64-bit hashes of the key (Kirsch-Mitzenmacher
    double hashing derives all k probe positions from these two)."""
    return F.xxhash64(key), F.xxhash64(key, F.lit(0x9E3779B9))


def _next_pow2(x: int) -> int:
    return 1 << max(int(x) - 1, 1).bit_length()


def build_bloom_index(
    history: DataFrame,
    key: Column | str,
    *,
    n_buckets: int = 64,
    bits_per_key: int = BITS_PER_KEY,
    n_hashes: int = N_HASHES,
) -> DataFrame:
    """One Bloom filter per key-hash bucket: (bucket, m, n_keys, bloom).

    The groupBy shuffle carries (bucket, h1, h2) only — the payload
    column is projected away before the exchange, so indexing 10^12
    pages moves ~20 TB of hashes, not the corpus. Duplicate keys just
    re-set the same bits (no distinct pass needed). ``n_buckets``
    bounds per-task memory: each task materializes one bucket's hashes
    plus its bitmap, so size it to keys/bucket * 16B <~ executor task
    memory at the target scale (the bitmap itself is n*bits_per_key/8).
    ``n_buckets`` and ``n_hashes`` are stored as metadata on the
    ``bucket`` column; every probe reads them from there.
    """
    key_col = F.col(key) if isinstance(key, str) else key
    h1, h2 = _hash_cols(key_col)
    hashed = history.select(
        F.pmod(h1, F.lit(n_buckets)).cast("int").alias("bucket"),
        h1.alias("h1"),
        h2.alias("h2"),
    )

    import numpy as np

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        m = max(_next_pow2(n * bits_per_key), MIN_BITS)
        mask = np.uint64(m - 1)
        bits = np.zeros(m // 8, dtype=np.uint8)
        hh1 = pdf["h1"].to_numpy().astype(np.uint64)
        hh2 = pdf["h2"].to_numpy().astype(np.uint64)
        for i in range(n_hashes):
            pos = (hh1 + np.uint64(i) * hh2) & mask
            np.bitwise_or.at(bits, (pos >> np.uint64(3)).astype(np.int64),
                             np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8))
        return pd.DataFrame(
            {
                "bucket": [int(pdf["bucket"].iloc[0])],
                "m": [m],
                "n_keys": [n],
                "bloom": [bits.tobytes()],
            }
        )

    return hashed.groupBy("bucket").applyInPandas(
        _build, "bucket int, m bigint, n_keys bigint, bloom binary"
    ).withMetadata("bucket", {"n_buckets": n_buckets, "n_hashes": n_hashes})


def _geometry(index: DataFrame) -> tuple[int, int]:
    """(n_buckets, n_hashes) the index was built with, from the metadata
    ``build_bloom_index`` puts on its ``bucket`` column (no Spark job)."""
    meta = index.schema["bucket"].metadata
    for k in ("n_buckets", "n_hashes"):
        if k not in meta:
            raise ValueError(
                f"Bloom index has no {k!r} metadata on its bucket column; "
                "build it with build_bloom_index"
            )
    return int(meta["n_buckets"]), int(meta["n_hashes"])


def bloom_probe(
    batch: DataFrame,
    index: DataFrame,
    key: Column | str,
) -> DataFrame:
    """Batch columns + ``bloom_maybe`` (false => certainly not in history).

    ``index`` must come from :func:`build_bloom_index`: the bucket count
    and the number of probes are read from its ``bucket`` column
    metadata (``ValueError`` when that is missing), so the probe always
    hashes keys into the buckets the build used.

    The probe is one left equi-join of batch rows to index rows on the
    bucket column, and its physical join is the engine's choice, made
    from the index's size statistics (a persisted or parquet index
    reports its real size; adaptive execution re-plans one whose lineage
    has none once it is measured): an index under
    ``spark.sql.autoBroadcastJoinThreshold`` is broadcast to every
    executor; above it the engine shuffle-joins on the bucket, so each
    task receives 1/n_buckets of the batch plus ONE bucket's bitmap and
    a 10^11-key (~200 GB) index never has to exist in one place
    (parallelism is then capped at ``n_buckets``). The deployment's
    session setting selects that path.

    The membership test kernel is the same under either join: rows in a
    batch share few distinct bitmaps, so the Arrow-batched kernel
    factorizes on the blob and tests each group with vectorized numpy
    bit probes.
    """
    n_buckets, n_hashes = _geometry(index)
    key_col = F.col(key) if isinstance(key, str) else key
    h1, h2 = _hash_cols(key_col)
    keyed = batch.withColumns(
        {
            "_bb": F.pmod(h1, F.lit(n_buckets)).cast("int"),
            "_h1": h1,
            "_h2": h2,
        }
    )
    idx = index.withColumnRenamed("bucket", "_bb")
    probed = keyed.join(idx, "_bb", "left")

    import numpy as np

    @F.pandas_udf("boolean")
    def _test(bloom: pd.Series, h1s: pd.Series, h2s: pd.Series) -> pd.Series:
        out = np.zeros(len(bloom), dtype=bool)
        if len(bloom) == 0:
            return pd.Series(out)
        hh1 = h1s.to_numpy().astype(np.uint64)
        hh2 = h2s.to_numpy().astype(np.uint64)
        codes, uniques = pd.factorize(bloom)
        for code, blob in enumerate(uniques):
            sel = codes == code
            if blob is None:
                continue  # no bucket in history => certainly novel
            bits = np.frombuffer(blob, dtype=np.uint8)
            mask = np.uint64(len(bits) * 8 - 1)
            hit = np.ones(int(sel.sum()), dtype=bool)
            s1, s2 = hh1[sel], hh2[sel]
            for i in range(n_hashes):
                pos = (s1 + np.uint64(i) * s2) & mask
                byte = bits[(pos >> np.uint64(3)).astype(np.int64)]
                hit &= (byte >> (pos & np.uint64(7)).astype(np.uint8)) & 1 == 1
            out[sel] = hit
        return pd.Series(out)

    return probed.withColumn(
        "bloom_maybe", _test(F.col("bloom"), F.col("_h1"), F.col("_h2"))
    ).drop("_bb", "_h1", "_h2", "m", "n_keys", "bloom")


def confirm_novel(
    flagged: DataFrame, key_col: str, history_keys: DataFrame
) -> DataFrame:
    """EXACT novel subset of a :func:`bloom_probe` result: bloom-negative
    rows short-circuit (no false negatives => certainly novel), only the
    positive remainder pays the confirm anti-join, and the history side
    of that join is its key projection (duplicate keys there cannot
    change an anti-join, so no distinct pass). ``flagged`` is read by
    both branches, so a caller that materializes it runs the membership
    kernel once. Returns ``flagged``'s rows minus ``bloom_maybe``."""
    certain = flagged.where(~F.col("bloom_maybe")).drop("bloom_maybe")
    confirmed = (
        flagged.where(F.col("bloom_maybe"))
        .drop("bloom_maybe")
        .join(history_keys.select(key_col), key_col, "left_anti")
    )
    return certain.unionByName(confirmed)


def novel_rows(
    keyed: DataFrame,
    key_col: str,
    history_keys: DataFrame,
    index: DataFrame,
) -> DataFrame:
    """EXACT subset of ``keyed`` whose ``key_col`` value is absent from
    ``history_keys`` (a DataFrame carrying the same-named key column):
    :func:`bloom_probe` then :func:`confirm_novel`, the exactness-
    critical core of :func:`bloom_novelty`. The probe takes its geometry
    from ``index``, so the result is exact for any index
    :func:`build_bloom_index` built."""
    return confirm_novel(
        bloom_probe(keyed, index, F.col(key_col)), key_col, history_keys
    )


def bloom_novelty(
    batch: DataFrame,
    history: DataFrame,
    id_col: str,
    payload: str,
    *,
    n_buckets: int = 64,
    bits_per_key: int = BITS_PER_KEY,
    n_hashes: int = N_HASHES,
    index: DataFrame | None = None,
) -> DataFrame:
    """EXACT set of batch rows whose payload does not appear in history.

    Bloom-negative rows short-circuit (no false negatives => novel with
    certainty); only bloom-positive rows pay the exact confirm
    anti-join, and the history side of that join is its key projection
    — never the payload. Pass a prebuilt ``index`` to
    amortize the history scan across batches (the production shape:
    build once per ingest epoch, persist as parquet, probe every
    batch). ``n_buckets``/``bits_per_key``/``n_hashes`` shape only the
    index built here when ``index`` is None; a prebuilt index brings its
    own geometry. Returns (record_id, novel_key) ordered by caller.
    """
    bkey = payload_key(F.col(payload)).alias("_k")
    keyed = batch.select(F.col(id_col).alias("record_id"), bkey)
    if index is None:
        index = build_bloom_index(
            history,
            payload_key(F.col(payload)),
            n_buckets=n_buckets,
            bits_per_key=bits_per_key,
            n_hashes=n_hashes,
        )
    hist_keys = history.select(payload_key(F.col(payload)).alias("_k"))
    return novel_rows(keyed, "_k", hist_keys, index).select(
        "record_id", F.col("_k").alias("novel_key")
    )
