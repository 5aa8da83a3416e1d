"""Composite corpus-cleaning recipe — the standard web-text preparation
chain, composed from this repo's verified operators in one lazy plan:

    segment_dedup  (CCNet cross-doc boilerplate removal, dedup.py)
      -> drop emptied documents
      -> exact dedup on the CLEANED text (keep min id — boilerplate
         stripping surfaces exact dups that raw-text hashing misses:
         two pages differing only in nav/header collapse)
      -> minimum-length quality gate

Each stage is the same code path its standalone query gates, so the
composite inherits their oracle-checked semantics; the composition
itself is value-checked end-to-end as the ``clean_corpus`` driver query.

Scale shape: segment_dedup contributes its postings agg (ids+hashes);
the exact stage is one groupBy on sha2(clean_text) + a semi join (the
exact_duplicates shape, keep-side only); the length gate is a narrow
filter. Nothing here shuffles document text except the one semi-join
hydration of winners.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..operators import dedup


def clean_corpus(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seg_words: int = 10,
    df_threshold: int = 2,
    min_tokens: int = 5,
) -> DataFrame:
    """(record_id, clean_text, n_tok) for every SURVIVING document.

    Drops: documents emptied by boilerplate removal, exact duplicates of
    a lower-id document (after cleaning), and documents shorter than
    ``min_tokens`` whitespace tokens post-cleaning."""
    seg = dedup.segment_dedup(df, id_col, text_col, seg_words, df_threshold)
    nonempty = seg.where(F.col("clean_text") != "").select(
        "record_id", "clean_text"
    )
    # exact keep-min on cleaned text: hash for shuffle bytes (the
    # exact_duplicates convention — 64-hex key, never the text). Not
    # persisted, like exact_duplicates: the winners groupBy and the
    # semi-join probe each recompute the rebuild + sha2 from
    # segment_dedup's cached base, which measured cheaper than a cache.
    keyed = nonempty.withColumn("_k", F.sha2("clean_text", 256))
    winners = keyed.groupBy("_k").agg(F.min("record_id").alias("record_id"))
    out = keyed.join(winners, ["_k", "record_id"], "left_semi")
    out = out.withColumn(
        "n_tok", F.size(F.split("clean_text", " "))
    ).where(F.col("n_tok") >= min_tokens)
    return dedup._tag_persisted(
        out.select("record_id", "clean_text", "n_tok"),
        *getattr(seg, "_persisted_deps", []),
    )
