"""Two-dataset linkage constraints: greedy 1:1 matching + gazetteer top-N.

Reference (SURVEY.md §2.7):
- C6 greedy one-to-one: sort scored pairs desc, accept a pair iff both
  endpoints are unseen (dedupe/clustering.py:265-277, used by
  ``RecordLink.join(constraint='one-to-one')``, dedupe/api.py:404-498).
- C7 gazetteer top-N per query block: filter > threshold, sort desc, take
  n matches per query record (dedupe/clustering.py:280-308).
- J3/J4 joins live in operators/pairs.py (record_link_pairs).

Spark shape:
- C7 is a window rank — native, one shuffle.
- C6 is inherently sequential in its literal form; the distributed
  equivalent is iterative *locally-dominant edge* matching: an edge is
  accepted when it is simultaneously its src's best and its dst's best
  remaining edge (deterministic total order on (score desc, src, dst)).
  With distinct scores this yields exactly the greedy-by-weight matching
  (a locally-dominant edge can never be displaced by a later greedy
  choice); ties are broken by the same total order on both sides, so the
  output is deterministic. O(log n) rounds, two groupBy shuffles per
  round, localCheckpoint per round for lineage truncation — same driver
  -loop pattern as clustering.connected_components.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

MAX_MATCH_ITERS = 50
# bound on the driver-side finish of a pathological matching remnant
# (cf. clustering.DRIVER_CC_MAX_EDGES): ~24 B/edge, 2M = tens of MB
DRIVER_MATCH_MAX_EDGES = 2_000_000


def gazetteer_topk(
    scored: DataFrame,
    n_matches: int = 1,
    threshold: float = 0.0,
    query_col: str = "src",
) -> DataFrame:
    """C7 (clustering.py:280-308): per query record, the top-N matches
    above threshold. Native window ranking (TakeOrdered per key)."""
    w = Window.partitionBy(query_col).orderBy(
        F.desc("score"), F.asc("src"), F.asc("dst")
    )
    return (
        scored.where(F.col("score") > threshold)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= n_matches)
    )


def _best_per(scored: DataFrame, side: str) -> DataFrame:
    """The single best remaining edge per ``side`` endpoint under the
    deterministic total order (score desc, src, dst)."""
    w = Window.partitionBy(side).orderBy(F.desc("score"), F.asc("src"), F.asc("dst"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def greedy_one_to_one(scored: DataFrame, threshold: float = 0.0) -> DataFrame:
    """C6 (clustering.py:265-277): maximal matching equal to greedy-by-
    score on distinct scores. scored(src, dst, score) -> accepted subset.

    Iterative locally-dominant edge selection; each round accepts every
    edge that is both endpoints' best, then removes all edges touching a
    matched endpoint. Terminates because every round either accepts the
    globally best remaining edge (always locally dominant) or the edge
    set is empty. A remnant still left after MAX_MATCH_ITERS rounds is
    finished on the driver under the same order.
    """
    remaining = (
        scored.where(F.col("score") >= threshold)
        .select("src", "dst", "score")
        .localCheckpoint()
    )
    accepted: DataFrame | None = None
    for _ in range(MAX_MATCH_ITERS):
        if remaining.isEmpty():
            break
        # an edge is dominant iff it is its src's best AND its dst's best
        dominant = (
            _best_per(remaining, "src")
            .join(
                _best_per(remaining, "dst").select("src", "dst"),
                ["src", "dst"],
                "left_semi",
            )
            .localCheckpoint()
        )
        accepted = dominant if accepted is None else accepted.unionByName(dominant)
        # drop every edge touching a matched endpoint (A-side ids live in
        # src, B-side ids in dst — namespaces are disjoint in linkage mode)
        remaining = (
            remaining.join(dominant.select("src").distinct(), "src", "left_anti")
            .join(dominant.select("dst").distinct(), "dst", "left_anti")
            .localCheckpoint()
        )
    # convergence means *no edges remain* — matching that completes exactly
    # on the final allowed iteration is success (the emptiness test at the
    # top of the loop never runs again once MAX_MATCH_ITERS is exhausted).
    if not remaining.isEmpty():
        # adversarial score orderings (a monotonically-decreasing chain)
        # retire only O(1) edges per round, so a chain longer than
        # 2*MAX_MATCH_ITERS survives the loop. Finish the remnant with
        # the SAME greedy matching computed sequentially on the driver
        # under the same total order (score desc, src, dst) —
        # output-identical to continuing the rounds (locally-dominant
        # iteration == greedy by a total order). A remnant that survives
        # every round is a thin chain, not a dense graph; the collect is
        # bounded anyway.
        # canonical column order first: the join-key anti-joins above put
        # "dst" first, and createDataFrame(tuples, schema) binds by position
        rem = remaining.select("src", "dst", "score")
        rows = (
            rem.orderBy(F.desc("score"), F.asc("src"), F.asc("dst"))
            .limit(DRIVER_MATCH_MAX_EDGES + 1)
            .collect()
        )
        if len(rows) > DRIVER_MATCH_MAX_EDGES:
            raise RuntimeError(
                f"greedy_one_to_one: {len(rows)}+ edges after"
                f" {MAX_MATCH_ITERS} rounds — not a chain remnant; raise"
                " MAX_MATCH_ITERS"
            )
        used_src: set = set()
        used_dst: set = set()
        picked = []
        for r in rows:
            if r["src"] not in used_src and r["dst"] not in used_dst:
                used_src.add(r["src"])
                used_dst.add(r["dst"])
                picked.append((r["src"], r["dst"], r["score"]))
        if picked:
            tail = remaining.sparkSession.createDataFrame(picked, rem.schema)
            accepted = (
                tail if accepted is None else accepted.unionByName(tail)
            )
    if accepted is None:
        return scored.select("src", "dst", "score").limit(0)
    return accepted


def link_datasets(
    scored: DataFrame,
    constraint: str = "one-to-one",
    threshold: float = 0.5,
    n_matches: int = 1,
) -> DataFrame:
    """RecordLink.join semantics (dedupe/api.py:404-498): apply the
    linkage constraint to scored A-x-B pairs.

    - 'many-to-many': every pair over threshold
    - 'many-to-one':  each src keeps its best dst (window top-1)
    - 'one-to-one':   greedy matching (C6)
    """
    over = scored.where(F.col("score") >= threshold)
    if constraint == "many-to-many":
        return over.select("src", "dst", "score")
    if constraint == "many-to-one":
        return gazetteer_topk(over, n_matches=n_matches, query_col="src").select(
            "src", "dst", "score"
        )
    if constraint == "one-to-one":
        return greedy_one_to_one(over).select("src", "dst", "score")
    raise ValueError(f"unknown constraint: {constraint}")
