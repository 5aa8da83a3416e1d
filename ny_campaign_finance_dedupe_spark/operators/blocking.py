"""Blocking-map construction: records -> (block_key, record_id).

Reference: ``Fingerprinter.__call__`` flat-maps each record through every
learned predicate, suffixing keys with the predicate index so different
predicates never collide (dedupe/blocking.py:48-104, join at 96-99), and
COPYs the stream into ``blocking_map`` (campaign_finance_dedupe.py:258-268).

Spark shape: one ``select`` building an array<string> per predicate
(functions/keygen.py — all native), ``flatten`` + ``explode`` — a single
narrow Generate, no shuffle at all. The shuffle happens once, at the
pair-generation self-join.

Skew guard: the reference prevents mega-blocks two ways — canopy
stop-words (terms in > max(1000, 5%N) docs dropped, canopy_index.py:20-38)
and oversize-component re-thresholding (clustering.py:63-98). Here the
first maps to ``cap_blocks``: profile block sizes with one aggregation and
DROP keys above the cap (a block of size m contributes m(m-1)/2 pairs;
at 10^12 docs a boilerplate-template block of 10^6 pages would alone emit
5*10^11 pairs). Residual moderate skew is left to AQE skew-join splitting.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

DEFAULT_MAX_BLOCK = 200


def build_blocking_map(
    records: DataFrame,
    id_col: str,
    predicates: dict[str, Column],
) -> DataFrame:
    """records + named key-array expressions -> (block_key, record_id).

    Keys are prefixed ``<predicate_name>|`` (= the reference's ':index'
    suffix, blocking.py:96-99) so two predicates emitting the same string
    stay distinct blocks.

    INVARIANT (no shuffle spent re-enforcing it): each predicate's key
    array must be per-record distinct — every functions/keygen generator
    is (``array_distinct`` / single-key construction), and the name
    prefix makes cross-predicate collisions impossible, so (key, id)
    rows are unique BY CONSTRUCTION. A dropDuplicates here would be a
    full shuffle of the blocking map on every run for nothing; custom
    predicates that can repeat keys must array_distinct themselves
    (pinned by test_blocking_map_unique_keys).
    """
    def _prefixer(name: str):
        # NB: a single-arg lambda is required — pyspark passes (element,
        # index) to two-arg transform lambdas, which would clobber a
        # default-bound second parameter.
        return lambda k: F.concat_ws("|", F.lit(name), k)

    empty = F.array().cast("array<string>")
    arrays = [
        # null-safe per predicate: flatten() returns NULL if ANY element
        # array is NULL and explode(NULL) emits no rows — one null-
        # returning custom predicate must not erase every OTHER
        # predicate's keys for the record (in-repo keygen generators
        # return [] for null fields; this guards the extension point)
        F.transform(F.coalesce(expr, empty), _prefixer(name)).alias(name)
        for name, expr in predicates.items()
    ]
    return records.select(
        F.col(id_col).alias("record_id"),
        F.explode(F.flatten(F.array(*arrays))).alias("block_key"),
    ).select("block_key", "record_id")


def cap_blocks(
    blocking_map: DataFrame, max_block_size: int = DEFAULT_MAX_BLOCK
) -> DataFrame:
    """Drop blocks larger than ``max_block_size`` (canopy stop-word rule,
    canopy_index.py:20-38). A true duplicate pair lost here is almost
    always co-blocked under another, rarer key — same argument the
    reference makes for dropping high-document-frequency terms.

    Implemented as a window-free self-contained agg + broadcastable
    semi-join on the (small) oversize key list: the key list after the
    cap is tiny relative to the map, so we broadcast the *bad* keys.
    """
    big = (
        blocking_map.groupBy("block_key")
        .count()
        .where(F.col("count") > max_block_size)
        .select("block_key")
    )
    return blocking_map.join(F.broadcast(big), "block_key", "left_anti")
