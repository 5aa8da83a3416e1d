"""Linkage constraints (C6/C7), HAC refinement (C3), canonicalization
(A8), and the training-time predicate selector (T2/T4/T6/T7).

Fixture shapes mirror dedupe/tests/test_dedupe.py:197-231 (greedy /
gazetteer matching on hand-built scored pairs).
"""

import pyspark.sql.functions as F

from ny_campaign_finance_dedupe_spark.functions import keygen
from ny_campaign_finance_dedupe_spark.operators import (
    blocking,
    linkage,
    refine,
)
from ny_campaign_finance_dedupe_spark.plans import training


def _scored(spark, rows):
    return spark.createDataFrame(rows, "src string, dst string, score double")


def test_greedy_one_to_one_matches_reference_semantics(spark):
    # test_dedupe.py:197-205 shape: greedy by score, both endpoints unseen
    scored = _scored(
        spark,
        [
            ("a1", "b1", 0.9),
            ("a1", "b2", 0.8),
            ("a2", "b1", 0.7),
            ("a2", "b2", 0.6),
            ("a3", "b3", 0.5),
        ],
    )
    got = {
        (r["src"], r["dst"])
        for r in linkage.greedy_one_to_one(scored).collect()
    }
    # greedy: (a1,b1) first; (a1,b2)/(a2,b1) blocked; then (a2,b2), (a3,b3)
    assert got == {("a1", "b1"), ("a2", "b2"), ("a3", "b3")}


def test_greedy_one_to_one_empty(spark):
    scored = _scored(spark, [("a", "b", 0.4)])
    assert linkage.greedy_one_to_one(scored, threshold=0.5).count() == 0


def test_greedy_one_to_one_long_chain_driver_finish(spark, monkeypatch):
    # adversarial shape: a path a0-b0-a1-b1-... with strictly decreasing
    # scores retires ONE dominant edge per round (a_i's best is always
    # the edge back to b_{i-1}), so a chain longer than MAX_MATCH_ITERS
    # leaves a remnant. The driver finish must produce the SAME matching the
    # unbounded rounds would — every (a_i, b_i) edge.
    n = 12
    rows, score = [], 1000.0
    for i in range(n):
        rows.append((f"a{i:02d}", f"b{i:02d}", score))
        score -= 1.0
        rows.append((f"a{i + 1:02d}", f"b{i:02d}", score))
        score -= 1.0
    scored = _scored(spark, rows)
    want = {(f"a{i:02d}", f"b{i:02d}") for i in range(n)}
    full = {
        (r["src"], r["dst"])
        for r in linkage.greedy_one_to_one(scored).collect()
    }
    monkeypatch.setattr(linkage, "MAX_MATCH_ITERS", 2)
    capped = {
        (r["src"], r["dst"])
        for r in linkage.greedy_one_to_one(scored).collect()
    }
    assert full == want
    assert capped == want


def test_gazetteer_topk(spark):
    scored = _scored(
        spark,
        [
            ("q1", "c1", 0.9),
            ("q1", "c2", 0.8),
            ("q1", "c3", 0.7),
            ("q2", "c1", 0.6),
        ],
    )
    got = linkage.gazetteer_topk(scored, n_matches=2).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["src"], []).append((r["rank"], r["dst"]))
    assert sorted(by_q["q1"]) == [(1, "c1"), (2, "c2")]
    assert sorted(by_q["q2"]) == [(1, "c1")]


def test_link_datasets_constraints(spark):
    scored = _scored(
        spark, [("a1", "b1", 0.9), ("a1", "b2", 0.8), ("a2", "b1", 0.7)]
    )
    assert linkage.link_datasets(scored, "many-to-many").count() == 3
    m2o = {
        (r["src"], r["dst"])
        for r in linkage.link_datasets(scored, "many-to-one").collect()
    }
    assert m2o == {("a1", "b1"), ("a2", "b1")}
    o2o = {
        (r["src"], r["dst"])
        for r in linkage.link_datasets(scored, "one-to-one").collect()
    }
    assert o2o == {("a1", "b1")}


def test_hac_refine_splits_chain(spark):
    # a-b strong, b-c weak: CC merges all three; HAC at 0.5 cuts the chain
    edges = _scored(spark, [("a", "b", 0.95), ("b", "c", 0.1)])
    comp = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "a")], "record_id string, cluster_id string"
    )
    got = {
        (r["record_id"], r["cluster_id"])
        for r in refine.hac_refine(edges, comp, threshold=0.5).collect()
    }
    assert got == {("a", "a"), ("b", "a"), ("c", "c")}


def test_hac_refine_keeps_tight_cluster(spark):
    edges = _scored(
        spark, [("a", "b", 0.9), ("b", "c", 0.9), ("a", "c", 0.85)]
    )
    comp = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "a")], "record_id string, cluster_id string"
    )
    got = {
        r["cluster_id"] for r in refine.hac_refine(edges, comp, 0.5).collect()
    }
    assert got == {"a"}


def test_canonicalize_clusters(spark):
    em = spark.createDataFrame(
        [("r1", "c"), ("r2", "c"), ("r3", "c"), ("r4", "r4")],
        "record_id string, cluster_id string",
    )
    recs = spark.createDataFrame(
        [
            ("r1", "main street"),
            ("r2", "main stret"),
            ("r3", "main st"),
            ("r4", "solo"),
        ],
        "id string, val string",
    )
    got = {
        (r["cluster_id"], r["canonical_value"])
        for r in refine.canonicalize_clusters(em, recs, "id", "val").collect()
    }
    # 'main stret' minimizes total edit distance (1 + 4 < others)
    assert got == {("c", "main stret"), ("r4", "solo")}


def test_predicate_selection_end_to_end(spark):
    recs = spark.createDataFrame(
        [
            ("r1", "acme corp 12 main"),
            ("r2", "acme corp 12 main"),
            ("r3", "acme corporation 12 main"),
            ("r4", "zeta ltd 99 side"),
            ("r5", "zeta ltd 99 side st"),
        ],
        "id string, text string",
    )
    truth = spark.createDataFrame(
        [("r1", "r2"), ("r1", "r3"), ("r2", "r3"), ("r4", "r5")],
        "src string, dst string",
    )
    preds = {
        "ft": keygen.first_token(F.col("text")),
        "whole": keygen.whole_field(F.col("text")),
        "fi": keygen.first_integer(F.col("text")),
    }
    cover = training.predicate_cover(recs, "id", preds, truth)
    covered = {
        (r["predicate"], r["src"], r["dst"]) for r in cover.collect()
    }
    assert ("ft", "r1", "r2") in covered
    assert ("whole", "r1", "r2") in covered
    assert ("whole", "r1", "r3") not in covered  # texts differ
    costs = training.predicate_costs(recs, "id", preds, 5, 5)
    chosen = training.select_predicates(cover, costs, recall=0.9)
    # 'ft' covers everything at low cost -> selected alone
    assert chosen == ["ft"]


def test_blocked_pair_sample(spark):
    bm = blocking.build_blocking_map(
        spark.createDataFrame(
            [("r1", "x a"), ("r2", "x b"), ("r3", "x c"), ("r4", "y d")],
            "id string, text string",
        ),
        "id",
        {"ft": keygen.first_token(F.col("text"))},
    )
    got = training.blocked_pair_sample(bm, n_per_key=2).collect()
    assert 1 <= len(got) <= 2
    for r in got:
        assert r["src"] < r["dst"]


def test_hac_refine_skips_giant_components(spark, monkeypatch):
    """Components above MAX_HAC_COMPONENT keep their CC min-label instead
    of running the O(k^3) agglomeration."""
    monkeypatch.setattr(refine, "MAX_HAC_COMPONENT", 3)
    edges = _scored(
        spark,
        [("a", "b", 0.9), ("b", "c", 0.9), ("c", "d", 0.1), ("a", "d", 0.1)],
    )
    comp = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "a"), ("d", "a")],
        "record_id string, cluster_id string",
    )
    got = {
        (r["record_id"], r["cluster_id"])
        for r in refine.hac_refine(edges, comp, 0.5).collect()
    }
    # 4 > limit 3: untouched min-label clustering
    assert got == {("a", "a"), ("b", "a"), ("c", "a"), ("d", "a")}


def test_branch_bound_beats_greedy_cover(spark):
    """T7 (reference training.py:229-321): branch & bound minimizes
    TOTAL cost under the recall constraint; greedy's best-ratio-first
    order is suboptimal on this fixture and B&B must beat it."""
    cover = spark.createDataFrame(
        [("X", str(i), str(i)) for i in (1, 2, 3, 4)]
        + [("Y", str(i), str(i)) for i in (1, 2, 3)]
        + [("Z", str(i), str(i)) for i in (4, 5, 6)]
        + [("W", str(i), str(i)) for i in (5, 6)],
        "predicate string, src string, dst string",
    )
    costs = spark.createDataFrame(
        [("X", 2.0), ("Y", 1.0), ("Z", 2.0), ("W", 1.0)],
        "predicate string, est_comparisons double",
    )
    greedy = training.select_predicates(cover, costs, recall=1.0)
    bb = training.branch_bound_predicates(cover, costs, recall=1.0)
    cost = lambda ps: sum({"X": 2.0, "Y": 1.0, "Z": 2.0, "W": 1.0}[p]
                          for p in ps)
    # greedy picks best-ratio Y first and needs 3 predicates (cost 4);
    # the optimum is {X, W} at cost 3
    assert cost(greedy) == 4.0, greedy
    assert sorted(bb) == ["W", "X"], bb
    assert cost(bb) == 3.0


def test_branch_bound_respects_recall_and_call_budget(spark):
    cover = spark.createDataFrame(
        [("A", "1", "1"), ("A", "2", "2"), ("B", "3", "3")],
        "predicate string, src string, dst string",
    )
    costs = spark.createDataFrame(
        [("A", 5.0), ("B", 1.0)],
        "predicate string, est_comparisons double",
    )
    # recall 0.6 of 3 pairs -> 2 covered pairs suffice -> {A} alone
    bb = training.branch_bound_predicates(cover, costs, recall=0.6)
    assert bb == ["A"]
    # exhausted call budget still returns a valid (greedy) cover
    bb0 = training.branch_bound_predicates(
        cover, costs, recall=1.0, max_calls=0
    )
    assert set(bb0) == {"A", "B"}


def test_keep_best_max_score_min_id_ties(spark):
    """keep_best: highest score wins; exact ties go to the LOWEST id;
    singletons pass through; member counts are exact."""
    from ny_campaign_finance_dedupe_spark.operators import refine

    df = spark.createDataFrame(
        [
            (10, 1, 5.0),
            (10, 2, 9.0),   # winner: max score
            (10, 3, 9.0),   # same score, higher id -> loses
            (20, 7, 1.0),   # singleton
            (30, 9, -2.0),
            (30, 8, -2.0),  # tie at -2.0 -> id 8 wins
        ],
        "cluster_id long, record_id long, score double",
    )
    out = {
        r["cluster_id"]: (r["record_id"], r["score"], r["members"])
        for r in refine.keep_best(
            df, "cluster_id", "record_id", "score"
        ).collect()
    }
    assert out[10] == (2, 9.0, 3)
    assert out[20] == (7, 1.0, 1)
    assert out[30] == (8, -2.0, 2)
