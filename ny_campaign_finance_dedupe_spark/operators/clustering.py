"""Transitive clustering: connected components + skew/confidence passes.

Reference (SURVEY.md §2.7):
- C1 union-find over the scored edge list (dedupe/clustering.py:101-152)
- C2 oversize-component threshold escalation: components > 30k nodes get
  edges re-filtered at (min-score logit + 1) and re-clustered
  (clustering.py:63-98)
- C4 per-record confidence 1 - sqrt(mean (1-score)^2 to cluster peers)
  (clustering.py:241-262)
- C5 singleton pass-through (api.py:186-195)
- C8 cluster id = min member id (campaign_finance_dedupe.py:105-110)

Spark shape: union-find cannot exist on a cluster (it is a mutable
driver-side array); the shared-nothing equivalent is the alternating
large-star / small-star edge-rewrite of Kiveris et al., "Connected
Components in MapReduce and Beyond" (SOCC '14) — O(log^2 n) rounds, each
round two shuffles, converging to star graphs whose centers are the
component minima (which gives C8's min-id labeling for free).

Scale mechanics the driver loop owns (Catalyst can't see across
iterations — SURVEY.md §4):
- ``localCheckpoint`` each round truncates lineage (else the plan doubles
  per iteration and the DAG scheduler chokes by round ~15),
- convergence via a (count, hash-sum) checksum — one cheap agg, no
  expensive subtract.

Both paths run on the record ids themselves, in their own orderable type
(url strings in the pipeline): the component minimum IS the min record
id, so C8 holds with no id map and no second labelling pass.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

MAX_COMPONENT = 30_000  # dedupe/clustering.py:198
# bound on C2's re-filter-and-recluster rounds; every round removes at
# least one edge of each oversize component
MAX_SPLIT_ROUNDS = 5
MAX_CC_ITERS = 50
# below this many edges the iterative loop's per-round fixed cost (two
# shuffles + localCheckpoint + checksum job, ~O(seconds) each) dwarfs the
# work: collect and union-find driver-side (the reference's own physical
# plan, dedupe/clustering.py:101-152), then parallelize the result. At
# cluster scale the loop path engages automatically.
#
# Sizing the boundary: the loop costs ~10-15 s of fixed job latency
# regardless of input (measured: 12.8 s at 311k edges on 8 cores —
# ~log(n) rounds x (2 shuffles + localCheckpoint + checksum collect)),
# while the driver path is toPandas + vectorized numpy label
# propagation at well under a second per million edges and ~16 B/edge
# of driver memory (2M edges = 32 MB). The crossover is in the small
# millions; 2M keeps the collect bounded well inside driver memory
# while letting every sandbox-scale graph take the cheap path. At
# 10^12-doc scale the edge count is orders of magnitude past this and
# the loop engages.
DRIVER_CC_MAX_EDGES = 2_000_000


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to u's min neighbor."""
    und = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = und.groupBy("src").agg(F.min("dst").alias("mn"))
    mins = mins.withColumn("mn", F.least("mn", "src"))
    return (
        und.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Point every smaller-or-self neighbor of u at u's min neighbor."""
    direct = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).distinct()
    mins = direct.groupBy("src").agg(F.min("dst").alias("mn"))
    nbrs = direct.union(direct.select("src", F.col("src").alias("dst")).distinct())
    return (
        nbrs.join(mins, "src")
        .where(F.col("dst") != F.col("mn"))
        .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
        .distinct()
    )


def _checksum(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")), F.lit(0)
        ).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _driver_union_find(e: DataFrame, pdf) -> DataFrame:
    """Small-graph fast path: vectorized label propagation on the
    collected edges ``pdf`` of ``e`` (numpy min-hooking with full
    pointer-jumping between rounds — the driver-side mirror of the
    large-star/small-star shuffle loop). No per-edge Python loop: each
    round is O(E) numpy kernels and the round count is the graph's
    star-contraction depth, so a few hundred thousand edges resolve in
    tens of milliseconds on the driver."""
    import numpy as np
    import pandas as pd

    t = e.schema["src"].dataType.simpleString()
    schema = f"record_id {t}, cluster_id {t}"
    if len(pdf) == 0:  # np.unique on empty input yields float64 indices
        return e.sparkSession.createDataFrame([], schema)
    src = pdf["src"].to_numpy()
    dst = pdf["dst"].to_numpy()
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    m = len(src)
    si, di = inv[:m], inv[m:]
    lbl = np.arange(len(ids))
    while True:
        old = lbl.copy()
        # min-hook: both endpoints adopt the smaller current label
        em = np.minimum(lbl[si], lbl[di])
        np.minimum.at(lbl, si, em)
        np.minimum.at(lbl, di, em)
        # pointer-jump to a fixed point (labels are monotone decreasing,
        # so lbl[lbl] converges; indices stay in range)
        while True:
            nxt = lbl[lbl]
            if np.array_equal(nxt, lbl):
                break
            lbl = nxt
        if np.array_equal(lbl, old):
            break
    # min-id labeling: ids from np.unique are sorted, so the minimum
    # internal label maps to the component's minimum id (C8). str ids
    # sort by code point, which is Spark's UTF-8 binary string order.
    out = pd.DataFrame({"record_id": ids, "cluster_id": ids[lbl]})
    return e.sparkSession.createDataFrame(out, schema)


def connected_components(edges: DataFrame) -> DataFrame:
    """edges(src, dst) -> (record_id, cluster_id) for every id appearing
    in an edge; cluster_id = component min (C8). Ids keep their own
    orderable type (long, string, ...) on both paths.

    Adaptive physical strategy, read off one
    ``limit(DRIVER_CC_MAX_EDGES + 1)`` collect of the distinct edges:
    when it fits, union-find runs on the driver over that collect (one
    job instead of O(log n) shuffle rounds); otherwise the edges are
    localCheckpointed and run the alternating large-star/small-star loop
    with lineage truncation per round. Both produce identical min-label
    output (pinned by test).
    """
    e = edges.select("src", "dst").where(
        F.col("src") != F.col("dst")
    ).distinct()
    pdf = e.limit(DRIVER_CC_MAX_EDGES + 1).toPandas()
    if len(pdf) <= DRIVER_CC_MAX_EDGES:
        return _driver_union_find(e, pdf)
    e = e.localCheckpoint()
    prev = None
    for _ in range(MAX_CC_ITERS):
        e = _small_star(_large_star(e)).localCheckpoint()
        cur = _checksum(e)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(f"connected_components: no convergence in {MAX_CC_ITERS}")
    # converged: e is (member, root) star edges with root = component min
    members = e.select(F.col("src").alias("record_id"), F.col("dst").alias("cluster_id"))
    roots = e.select(F.col("dst").alias("record_id"), F.col("dst").alias("cluster_id"))
    return members.union(roots).distinct()


def cluster_edges(scored_pairs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """scored (src, dst, score) -> (record_id, cluster_id, cluster_score).

    Connected components runs on the record ids as given, so
    ``cluster_id`` is the min member record id (C8) by construction.
    ``cluster_score`` is C4's per-record confidence.
    """
    edges = scored_pairs.where(F.col("score") >= threshold)
    comp = connected_components(edges.select("src", "dst"))
    conf = member_confidence(edges)
    return comp.join(conf, "record_id", "left").select(
        "record_id",
        "cluster_id",
        F.coalesce("cluster_score", F.lit(1.0)).alias("cluster_score"),
    )


def member_confidence(edges: DataFrame) -> DataFrame:
    """C4 (clustering.py:241-262): per record,
    1 - sqrt(mean over peer edges of (1-score)^2) — a native agg over
    the member->edge incidence, no per-cluster Python. ``edges`` must be
    component-consistent: every edge given is intra-cluster, as the
    >= threshold edges of a connected-components run are by
    construction."""
    intra = edges.select("src", "dst", "score")
    inc = intra.select(
        F.col("src").alias("record_id"), (1.0 - F.col("score")).alias("d")
    ).union(intra.select(F.col("dst"), 1.0 - F.col("score")))
    per = inc.groupBy("record_id").agg(
        F.sqrt(F.avg(F.col("d") * F.col("d"))).alias("rmse")
    )
    return per.select("record_id", (1.0 - F.col("rmse")).alias("cluster_score"))


def add_singletons(
    records: DataFrame, id_col: str, clustered: DataFrame
) -> DataFrame:
    """C5 (api.py:186-195): unclustered records become their own cluster
    with score 1.0 — left-anti join + union, exactly the SQL twin
    COALESCE(canon_id, donor_id) (campaign_finance_dedupe.py:376-379)."""
    singles = (
        records.select(F.col(id_col).alias("record_id"))
        .join(clustered.select("record_id"), "record_id", "left_anti")
        .select(
            "record_id",
            F.col("record_id").alias("cluster_id"),
            F.lit(1.0).alias("cluster_score"),
        )
    )
    return clustered.unionByName(singles)


def carry_forward_cluster_ids(
    prev_map: DataFrame, cur_map: DataFrame
) -> DataFrame:
    """Stable cluster ids across runs (post_processing/add_cluster_ids.py,
    get_new_cluster_ids.py — the reference carries run-N ids into run-N+1
    by joining through an anchor member record).

    Generalization: each run-N+1 cluster adopts the run-N cluster id with
    the LARGEST member overlap; when two new clusters contend for the
    same previous id (a split), only the larger-overlap contender wins it
    (ties broken by smaller new cluster id) and the loser keeps its own
    new id; clusters with no overlapping members keep their new id. All
    deterministic windows over one overlap aggregation — two shuffles.

    Collision guard: both id spaces are min-member record ids, so a
    loser's fallback id can equal a prev_id just adopted by the winner
    of its own split (prev anchor record landed in the losing fragment).
    Losers whose own id was claimed by a winner are remapped to their
    smallest member record id not claimed by any winner; in the corner
    where every member id is claimed, to a fresh id strictly below
    ``min(0, min(prev cluster_id)) `` — record ids are non-negative and
    every adoptable prev_id is >= that floor, so the fresh ids collide
    with nothing, INCLUDING negative prev ids minted by a previous
    generation's own fallback (chained carry-forwards).

    Input/output: (record_id, cluster_id) maps.
    """
    # scalar floor for fresh ids, broadcast-joined to stay lazy: one
    # cheap column-min over the previous map
    neg_floor = prev_map.agg(
        F.least(F.lit(0).cast("long"), F.min("cluster_id")).alias("_floor")
    )
    ov = (
        cur_map.select("record_id", "cluster_id")
        .join(
            prev_map.select(
                "record_id", F.col("cluster_id").alias("prev_id")
            ),
            "record_id",
        )
        .groupBy("cluster_id", "prev_id")
        .agg(F.count("*").alias("overlap"))
    )
    w_cur = Window.partitionBy("cluster_id").orderBy(
        F.desc("overlap"), F.asc("prev_id")
    )
    best_prev = (
        ov.withColumn("_r", F.row_number().over(w_cur))
        .where(F.col("_r") == 1)
        .drop("_r")
    )
    # resolve contention: one winner per prev_id
    w_prev = Window.partitionBy("prev_id").orderBy(
        F.desc("overlap"), F.asc("cluster_id")
    )
    winners = (
        best_prev.withColumn("_r", F.row_number().over(w_prev))
        .where(F.col("_r") == 1)
        .select("cluster_id", "prev_id")
    )
    # ids claimed by winners live in record-id space; a loser may not
    # fall back onto one of them
    claimed = winners.select(F.col("prev_id").alias("_claimed_id"))
    losers = cur_map.join(
        winners.select("cluster_id"), "cluster_id", "left_anti"
    )
    free_min = (
        losers.join(
            claimed,
            losers["record_id"] == claimed["_claimed_id"],
            "left",
        )
        .groupBy("cluster_id")
        .agg(
            F.min(
                F.when(F.col("_claimed_id").isNull(), F.col("record_id"))
            ).alias("free_min")
        )
    )
    remap = (
        free_min.join(
            claimed,
            free_min["cluster_id"] == claimed["_claimed_id"],
            "left",
        )
        .crossJoin(F.broadcast(neg_floor))
        .select(
            "cluster_id",
            # last-resort fresh id when every member id is claimed:
            # floor - cluster_id - 1, where floor = min(0, min prev id).
            # Strictly below every adoptable prev_id AND every record id
            # (non-negative), injective per cluster_id; -0 == 0 (a loser
            # anchored at record 0 merging into the winner that adopted
            # prev_id 0) and reuse of a prior generation's negative
            # fallback id are both impossible.
            F.when(
                F.col("_claimed_id").isNotNull(),
                F.coalesce(
                    "free_min",
                    F.col("_floor") - F.col("cluster_id") - F.lit(1),
                ),
            )
            .otherwise(F.col("cluster_id"))
            .alias("new_id"),
        )
    )
    return (
        cur_map.join(winners, "cluster_id", "left")
        .join(remap, "cluster_id", "left")
        .select(
            "record_id",
            F.coalesce("prev_id", "new_id").alias("cluster_id"),
        )
    )


def split_oversize_components(
    scored_pairs: DataFrame,
    clustered: DataFrame,
    threshold: float,
) -> DataFrame:
    """C2 (clustering.py:63-98): components over MAX_COMPONENT members
    re-filter their edges at logit(min kept score) + 1 and re-cluster,
    recursing for at most MAX_SPLIT_ROUNDS rounds. The semantic skew
    guard on top of the block cap and AQE skew-join splitting.
    """
    out = clustered
    for _ in range(MAX_SPLIT_ROUNDS):
        big = (
            out.groupBy("cluster_id").count()
            .where(F.col("count") > MAX_COMPONENT)
            .select("cluster_id")
        )
        if big.isEmpty():
            return out
        # broadcast only the (tiny) oversize-cluster-id list; big_members
        # can be MAX_COMPONENT x n_big rows — a shuffled semi-join, never
        # a broadcast build side
        memb = out.join(F.broadcast(big), "cluster_id").select(
            "record_id", "cluster_id"
        )
        big_members = memb.select("record_id")
        # keep the component id on each edge: the reference re-filters
        # EACH component at ITS OWN min kept score (clustering.py:63-98).
        # A single global min would only peel one min-tier per round —
        # the rounds could run out while high-score components were
        # never re-filtered at all. (score>=threshold edges never cross
        # components: CC already merged anything they connect.)
        bad_edges = (
            scored_pairs.where(F.col("score") >= threshold)
            .join(
                memb.select(
                    F.col("record_id").alias("src"),
                    F.col("cluster_id").alias("_cid"),
                ),
                "src",
            )
            .join(
                big_members.withColumnRenamed("record_id", "dst"), "dst", "left_semi"
            )
        )
        # per-component threshold sigmoid(logit(min kept score) + 1) —
        # strictly above each component's min edge, so EVERY oversize
        # component loses at least one edge per round (progress bound)
        # one tiny row per oversize component: collect ONCE (the
        # emptiness probe and the threshold build side share the job —
        # an isEmpty + broadcast pair would run the joins+agg twice)
        import math

        min_rows = bad_edges.groupBy("_cid").agg(
            F.min("score").alias("_m")
        ).collect()
        if not min_rows:
            return out

        def _thr_of(m: float) -> float:
            m = min(max(m, 1e-6), 1 - 1e-6)
            return 1.0 / (1.0 + math.exp(-(math.log(m / (1 - m)) + 1.0)))

        thr_df = out.sparkSession.createDataFrame(
            [(r["_cid"], _thr_of(float(r["_m"]))) for r in min_rows],
            bad_edges.select("_cid").schema.add("_thr", "double"),
        )
        refiltered = (
            bad_edges.join(F.broadcast(thr_df), "_cid")
            .where(F.col("score") >= F.col("_thr"))
            .select("src", "dst", "score")
        )
        recl = cluster_edges(refiltered, threshold=threshold)
        keep = out.join(F.broadcast(big), "cluster_id", "left_anti")
        # members that fell out of the re-filtered subgraph become singletons
        dropped = (
            big_members.join(recl.select("record_id"), "record_id", "left_anti")
            .select(
                "record_id",
                F.col("record_id").alias("cluster_id"),
                F.lit(1.0).alias("cluster_score"),
            )
        )
        out = keep.unionByName(recl).unionByName(dropped)
    return out
