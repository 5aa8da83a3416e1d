"""Candidate-pair generation — the blocking self-join (the heart).

Reference (J1): ``SELECT DISTINCT l.donor_id, r.donor_id FROM blocking_map
l INNER JOIN blocking_map r USING (block_key) WHERE l.donor_id <
r.donor_id`` executed inside Postgres (campaign_finance_dedupe.py:310-314;
sqlite twin dedupe/api.py:243-247).

Spark shape: equi-join on block_key (sort-merge; AQE may split skewed
partitions), triangular filter, then ``dropDuplicates`` BEFORE the
expensive scoring UDF — the invariant that each pair is scored exactly
once no matter how many keys it co-blocks under (dedupe/api.py:199-205).

One kernel: ``candidate_pairs`` is the plain self-join and
``hydrate_pairs`` attaches payloads after its distinct. ``banded_pairs``
composes the two for every keyed near-dup operator
(dedup.minhash_candidate_pairs / simhash_near_pairs /
edit_distance_pairs, ann.cosine_neardup_bucketed): explode keys ->
candidate_pairs -> hydrate both sides -> measure. The skew variant is
``salted_candidate_pairs`` (hot-key bucket grid), alongside the block
cap and AQE's skew-join split.

Scale notes:
- blocks are pre-capped (operators/blocking.py), so per-key fan-out is
  bounded: the join output is at most max_block^2/2 x n_keys rows.
- the blocking map is persisted by the caller when used on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def candidate_pairs(blocking_map: DataFrame) -> DataFrame:
    """blocking_map(block_key, record_id) -> distinct (src, dst), src<dst."""
    l = blocking_map.alias("l")
    r = blocking_map.alias("r")
    return (
        l.join(r, "block_key")
        .where(F.col("l.record_id") < F.col("r.record_id"))
        .select(
            F.col("l.record_id").alias("src"),
            F.col("r.record_id").alias("dst"),
        )
        .dropDuplicates(["src", "dst"])
    )


def hydrate_pairs(
    pairs: DataFrame, records: DataFrame, id_col: str, payload_cols: list[str]
) -> DataFrame:
    """Attach both records' payloads (J2: the double join against
    processed_donors, campaign_finance_dedupe.py:314-316). Re-joining after
    the distinct keeps the pair shuffle narrow (ids only) — the reference
    makes the same call by hydrating inside the SQL after DISTINCT."""
    a = records.select(
        F.col(id_col).alias("src"), *[F.col(c).alias(f"{c}_a") for c in payload_cols]
    )
    b = records.select(
        F.col(id_col).alias("dst"), *[F.col(c).alias(f"{c}_b") for c in payload_cols]
    )
    return pairs.join(a, "src").join(b, "dst")


def banded_pairs(
    keyed: DataFrame,
    keys: Column,
    measure: Callable[[Column, Column], Column],
    name: str,
) -> DataFrame:
    """keyed(record_id, payload) -> (src, dst, ``name``), src < dst.

    ``keys`` is an array expression over the payload column (band keys,
    LSH buckets, deletion variants): records sharing any key become a
    distinct candidate pair (``candidate_pairs``), both payloads are
    re-attached after the distinct (``hydrate_pairs``, so the pair
    shuffle stays ids-only) and ``measure(payload_a, payload_b)`` is the
    output column. Persists nothing: ``keyed`` is read three times (key
    explode + both hydration sides), so a caller whose payload is costly
    to recompute persists it first."""
    (payload,) = [c for c in keyed.columns if c != "record_id"]
    bm = keyed.select("record_id", F.explode(keys).alias("block_key"))
    hyd = hydrate_pairs(candidate_pairs(bm), keyed, "record_id", [payload])
    return hyd.select(
        "src",
        "dst",
        measure(F.col(f"{payload}_a"), F.col(f"{payload}_b")).alias(name),
    )


def salted_candidate_pairs(
    blocking_map: DataFrame,
    hot_threshold: int = 1_000,
    salt: int = 16,
) -> DataFrame:
    """Candidate pairs with explicit hot-key salting (north_rule skew
    handling, alongside the block cap and AQE skew-join).

    Semantics are IDENTICAL to ``candidate_pairs`` — every co-blocked
    pair is still emitted — but a hot key's triangle is computed as a
    bucket grid: each record lands in bucket h = hash(id) % salt, and
    the left side replicates to every bucket pair (b, b2>=b), so one
    task never holds more than (m/salt)^2 of a hot block's pair space.
    Replication factor ~salt/2 on the hot keys only; cold keys take the
    plain self-join path. This is the completeness-preserving form of
    salting (a per-bucket-only join would silently drop cross-bucket
    pairs).
    """
    sizes = blocking_map.groupBy("block_key").count()
    hot_keys = sizes.where(F.col("count") > hot_threshold).select("block_key")
    cold = blocking_map.join(F.broadcast(hot_keys), "block_key", "left_anti")
    cold_pairs = (
        cold.alias("l")
        .join(cold.alias("r"), "block_key")
        .where(F.col("l.record_id") < F.col("r.record_id"))
        .select(
            F.col("l.record_id").alias("src"), F.col("r.record_id").alias("dst")
        )
    )
    hot = blocking_map.join(F.broadcast(hot_keys), "block_key", "left_semi")
    hot = hot.withColumn(
        "bucket", F.pmod(F.xxhash64("record_id"), F.lit(salt)).cast("int")
    )
    l = hot.withColumn(
        "b2", F.explode(F.sequence(F.col("bucket"), F.lit(salt - 1)))
    ).select("block_key", F.col("record_id").alias("src"), "b2")
    r = hot.select(
        "block_key", F.col("record_id").alias("dst"), F.col("bucket").alias("b2")
    )
    # canonicalize with least/greatest, NOT src<dst: a pair whose
    # exploding-side id is the larger one would otherwise be dropped
    # (the grid only guarantees one of the two orientations appears).
    hot_pairs = (
        l.join(r, ["block_key", "b2"])
        .where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
    )
    return cold_pairs.unionByName(hot_pairs).dropDuplicates(["src", "dst"])


def record_link_pairs(bm_a: DataFrame, bm_b: DataFrame) -> DataFrame:
    """Two-dataset linkage join (J3, dedupe/api.py:392-395): A x B on
    block_key, no triangular filter (ids live in different namespaces)."""
    return (
        bm_a.select("block_key", F.col("record_id").alias("src"))
        .join(bm_b.select("block_key", F.col("record_id").alias("dst")), "block_key")
        .select("src", "dst")
        .dropDuplicates(["src", "dst"])
    )
