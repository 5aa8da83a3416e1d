"""Offline learned-blocking subsystem: cover, cost, set-cover selection.

Reference (SURVEY.md §2.10): the active-learning trainer computes, for
every candidate predicate, which labeled duplicate pairs it *covers*
(co-blocks) (T4, dedupe/training.py:133-221,324-410), estimates each
predicate's comparison cost by extrapolating sampled block sizes
(T6, training.py:114-170,223-226,362-383), and searches for the
min-cost predicate set reaching recall x |dupes| via branch & bound
(T7, training.py:229-321, invoked with recall=0.90).

Spark-first shape: cover and cost are DataFrame aggregations over the
blocking maps of the candidate predicates (one pass each, no driver
loops over records); only the final set-cover search runs driver-side on
the tiny (predicate x pair) bitmap — greedy weighted set cover
(Chvatal) instead of branch & bound, a documented deviation: greedy is
the scalable choice and ln(n)-approximate, and the selected set is
re-validated by the pairwise-F1 gate either way.

T2 blocked sampling (dedupe/sampling.py:11-213) becomes per-key pair
sampling inside the blocking map — a groupBy + window, no deque dance.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from ..operators import blocking


def active_learn(
    pairs_with_features: DataFrame,
    oracle_fn,
    seed_labeled: DataFrame,
    rounds: int = 5,
    batch_size: int = 10,
    l2: float = 0.1,
):
    """T3 — active learning by uncertainty sampling (the reference's
    ``uncertainPairs`` console loop, dedupe/api.py:1212-1250 +
    labeler.py, with the human replaced by a programmatic labeling
    surface).

    Each round scores EVERY candidate pair with the current model
    (distributed, native sigmoid expression), takes the ``batch_size``
    most uncertain pairs (|p - 0.5| smallest — compiles to
    TakeOrderedAndProject, no global sort), asks ``oracle_fn(rows) ->
    labels`` for their labels (the console/human/truth-set seam; only
    the tiny batch ever reaches the driver), appends them to the
    labeled set and refits. Returns (model, labeled_df).
    """
    from ..operators import scoring

    spark = pairs_with_features.sparkSession
    labeled = seed_labeled.select(*scoring.FEATURES, "label").localCheckpoint()
    model = scoring.train_logistic(labeled, l2=l2)
    seen: set = set()
    for _ in range(rounds):
        scored = scoring.score_pairs(pairs_with_features, model)
        batch = (
            scored.withColumn("_unc", F.abs(F.col("score") - 0.5))
            .orderBy("_unc", "src", "dst")
            .limit(batch_size + len(seen))
        )
        rows = [
            r for r in batch.collect() if (r["src"], r["dst"]) not in seen
        ][:batch_size]
        if not rows:
            break
        labels = oracle_fn(rows)
        seen.update((r["src"], r["dst"]) for r in rows)
        new = spark.createDataFrame(
            [
                [float(r[f]) for f in scoring.FEATURES] + [float(lab)]
                for r, lab in zip(rows, labels)
            ],
            scoring.FEATURES + ["label"],
        )
        labeled = labeled.unionByName(new).localCheckpoint()
        model = scoring.train_logistic(labeled, l2=l2)
    return model, labeled


def random_pair_sample(
    pairs: DataFrame, fraction: float, seed: int = 42
) -> DataFrame:
    """T1 (dedupe/core.py randomPairs / api sample): seeded uniform
    sample of candidate pairs for labeling — native ``df.sample``, fully
    distributed, deterministic per (seed, partitioning)."""
    return pairs.sample(withReplacement=False, fraction=fraction, seed=seed)


def predicate_cover(
    records: DataFrame,
    id_col: str,
    predicates: dict[str, Column],
    true_pairs: DataFrame,  # (src, dst), src < dst
) -> DataFrame:
    """T4: per predicate, which true pairs co-block.

    Returns (predicate, src, dst) — the cover relation, computed by
    joining each side of the labeled pairs to the unified blocking map
    and matching on (predicate, block_key). One shuffle per side.
    """
    bm = blocking.build_blocking_map(records, id_col, predicates)
    # block_key carries the predicate name prefix ("name|key"); recover it
    bm = bm.select(
        F.split_part(F.col("block_key"), F.lit("|"), F.lit(1)).alias("predicate"),
        "block_key",
        "record_id",
    )
    # join each SIDE of the labeled pairs to the map and match keys —
    # linear in |true_pairs| x keys/record. (A blocking-map self-join
    # followed by a semi-join is output-identical but materializes the
    # FULL co-blocked pair space first: an uncapped hot predicate makes
    # that ~sum(block^2) rows before the filter — the exact quadratic
    # blow-up cap_blocks exists to prevent, and labeled pairs are the
    # tiny side here.)
    l = true_pairs.select("src", "dst").join(
        bm.select(F.col("record_id").alias("src"), "predicate", "block_key"),
        "src",
    )
    return (
        l.join(
            bm.select(
                F.col("record_id").alias("dst"), "predicate", "block_key"
            ),
            ["dst", "predicate", "block_key"],
        )
        .select("predicate", "src", "dst")
        .distinct()
    )


def predicate_costs(
    sample: DataFrame,
    id_col: str,
    predicates: dict[str, Column],
    full_count: int,
    sample_count: int,
) -> DataFrame:
    """T6 cost model: per predicate, sum over blocks of C(n,2) on the
    sample, extrapolated by r = N(N-1)/(Ns(Ns-1)) (training.py:223-226).
    """
    bm = blocking.build_blocking_map(sample, id_col, predicates)
    bm = bm.select(
        F.split_part(F.col("block_key"), F.lit("|"), F.lit(1)).alias("predicate"),
        "block_key",
    )
    r = (full_count * (full_count - 1)) / max(sample_count * (sample_count - 1), 1)
    per_block = bm.groupBy("predicate", "block_key").agg(F.count("*").alias("n"))
    # sum the INTEGER n(n-1) (exact, order-independent) and divide once:
    # a float per-block sum is summation-order nondeterministic across
    # partitions, which breaks bit-exact reproducibility of the estimate
    return per_block.groupBy("predicate").agg(
        (F.sum(F.col("n") * (F.col("n") - 1)) / 2 * F.lit(float(r))).alias(
            "est_comparisons"
        )
    )


def select_predicates(
    cover: DataFrame,
    costs: DataFrame,
    recall: float = 0.90,
) -> list[str]:
    """T7 as greedy weighted set cover: pick predicates until the chosen
    set covers >= recall x |true pairs|, each step maximizing
    newly-covered / cost. Driver-side on the small (predicate, pair)
    relation — the search space is #predicates, not #records.

    Dominator pruning (training.py:362-383) falls out implicitly: a
    dominated predicate can never have the best marginal ratio.
    """
    rows = cover.collect()
    cost_map = {r["predicate"]: max(float(r["est_comparisons"]), 1.0)
                for r in costs.collect()}
    by_pred: dict[str, set] = {}
    universe: set = set()
    for r in rows:
        p = (r["src"], r["dst"])
        by_pred.setdefault(r["predicate"], set()).add(p)
        universe.add(p)
    target = recall * len(universe)
    chosen: list[str] = []
    covered: set = set()
    while len(covered) < target and by_pred:
        best, best_ratio = None, 0.0
        # sorted scan + strict > = alphabetically-first wins ratio ties,
        # independent of dict insertion order (collect() row order is a
        # partitioning artifact, not a contract)
        for name, pairs in sorted(by_pred.items()):
            gain = len(pairs - covered)
            if gain == 0:
                continue
            ratio = gain / cost_map.get(name, 1.0)
            if ratio > best_ratio:
                best, best_ratio = name, ratio
        if best is None:
            break
        chosen.append(best)
        covered |= by_pred.pop(best)
    return chosen


def branch_bound_predicates(
    cover: DataFrame,
    costs: DataFrame,
    recall: float = 0.90,
    max_calls: int = 5_000,
) -> list[str]:
    """T7 as the reference's actual optimization (training.py:229-321):
    MINIMIZE total estimated comparisons subject to covering
    >= recall * |true pairs|, by depth-first branch and bound over the
    (predicate, covered-pair-set) relation.

    Search shape: at each node, prune candidates whose cost alone
    exceeds the remaining budget (incumbent cost - partial cost), give
    up the branch when even the union of all remaining candidates can't
    reach the target, branch on the candidate with (max new coverage,
    min cost), and explore include-it / exclude-it (after dropping
    predicates the branching one dominates: >= cost and covering a
    subset). The greedy solution seeds the incumbent, so pruning starts
    tight. ``max_calls`` bounds the node count — on exhaustion the best
    incumbent so far is returned (greedy or better, never worse).

    Driver-side: the search space is #predicates wide, not #records.
    """
    rows = cover.collect()
    cost_map = {
        r["predicate"]: max(float(r["est_comparisons"]), 1.0)
        for r in costs.collect()
    }
    by_pred: dict[str, frozenset] = {}
    universe: set = set()
    for r in rows:
        p = (r["src"], r["dst"])
        by_pred.setdefault(r["predicate"], set()).add(p)
        universe.add(p)
    by_pred = {k: frozenset(v) for k, v in by_pred.items()}
    target = recall * len(universe)

    greedy = select_predicates(cover, costs, recall)
    best = list(greedy)
    best_cost = sum(cost_map.get(p, 1.0) for p in greedy)
    calls = max_calls

    def search(cands: dict[str, frozenset], chosen: list[str],
               covered: frozenset, cost: float) -> None:
        nonlocal best, best_cost, calls
        if calls <= 0:
            return
        calls -= 1
        if len(covered) >= target:
            if cost < best_cost:
                best, best_cost = list(chosen), cost
            return
        budget = best_cost - cost
        cands = {
            p: cv - covered
            for p, cv in cands.items()
            if cost_map.get(p, 1.0) < budget and cv - covered
        }
        if not cands:
            return
        reachable = len(covered | frozenset().union(*cands.values()))
        if reachable < target:
            return
        # name as the final key: collect() row order (hence dict order)
        # is a partitioning artifact — ties must not depend on it
        pick = max(
            cands, key=lambda p: (len(cands[p]), -cost_map.get(p, 1.0), p)
        )
        # include branch
        search(
            {p: cv for p, cv in cands.items() if p != pick},
            chosen + [pick],
            covered | cands[pick],
            cost + cost_map.get(pick, 1.0),
        )
        # exclude branch: anything pick dominates can't help either
        pc, pcv = cost_map.get(pick, 1.0), cands[pick]
        reduced = {
            p: cv
            for p, cv in cands.items()
            if p != pick and not (pc <= cost_map.get(p, 1.0) and cv <= pcv)
        }
        search(reduced, chosen, covered, cost)

    search(dict(by_pred), [], frozenset(), 0.0)
    return best


def blocked_pair_sample(
    blocking_map: DataFrame, n_per_key: int = 2, seed: int = 42
) -> DataFrame:
    """T2 (dedupe/sampling.py:11-213): sample co-blocked pairs, up to
    ``n_per_key`` per block key — deterministic via a seeded hash order
    window, one shuffle, no driver-side deque rotation."""
    w = Window.partitionBy("block_key").orderBy(
        F.xxhash64("record_id", F.lit(seed))
    )
    ranked = blocking_map.withColumn("_rn", F.row_number().over(w)).where(
        F.col("_rn") <= n_per_key + 1
    )
    l = ranked.select("block_key", F.col("record_id").alias("src"), F.col("_rn"))
    r = ranked.select(
        "block_key", F.col("record_id").alias("dst"), F.col("_rn").alias("_rn2")
    )
    return (
        l.join(r, "block_key")
        .where((F.col("_rn2") == F.col("_rn") + 1) & (F.col("src") != F.col("dst")))
        .select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .dropDuplicates(["src", "dst"])
    )
