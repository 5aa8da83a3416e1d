"""CC + confidence + singletons on hand-built edges — mirrors
dedupe/tests/test_dedupe.py:77-98 (components) and :100-196 (thresholds)."""

import pyspark.sql.functions as F
import pytest

from ny_campaign_finance_dedupe_spark.operators import clustering


def comp_sets(df):
    rows = df.collect()
    by = {}
    for r in rows:
        by.setdefault(r["cluster_id"], set()).add(r["record_id"])
    return sorted([frozenset(s) for s in by.values()], key=lambda s: sorted(s)[0])


def test_connected_components_basic(spark):
    # chain 1-2-3, pair 10-11, star 20-(21,22,23)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (20, 22), (20, 23)],
        "src long, dst long",
    )
    got = comp_sets(clustering.connected_components(edges))
    assert got == [
        frozenset({1, 2, 3}),
        frozenset({10, 11}),
        frozenset({20, 21, 22, 23}),
    ]


def test_connected_components_min_label(spark):
    edges = spark.createDataFrame([(5, 9), (9, 3), (7, 3)], "src long, dst long")
    df = clustering.connected_components(edges)
    assert {r["cluster_id"] for r in df.collect()} == {3}
    assert {r["record_id"] for r in df.collect()} == {3, 5, 7, 9}


def test_connected_components_long_chain(spark):
    # path of 40 nodes: exercises multi-round convergence
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "src long, dst long"
    )
    df = clustering.connected_components(edges)
    assert df.count() == 41
    assert {r["cluster_id"] for r in df.collect()} == {0}


def test_cluster_edges_threshold_and_string_ids(spark):
    scored = spark.createDataFrame(
        [
            ("a", "b", 0.9),
            ("b", "c", 0.8),
            ("c", "d", 0.3),  # below threshold: d not clustered
            ("x", "y", 0.7),
        ],
        "src string, dst string, score double",
    )
    out = clustering.cluster_edges(scored, threshold=0.5)
    got = comp_sets(out.select("record_id", "cluster_id"))
    assert got == [frozenset({"a", "b", "c"}), frozenset({"x", "y"})]
    # cluster_id is the component's min record id (C8)
    for r in out.collect():
        assert r["cluster_id"] in {"a", "x"}
        assert 0.0 <= r["cluster_score"] <= 1.0


def test_confidence_formula(spark):
    # single pair score 0.9 -> both endpoints 1 - sqrt((1-0.9)^2) = 0.9
    scored = spark.createDataFrame(
        [("a", "b", 0.9)], "src string, dst string, score double"
    )
    out = clustering.cluster_edges(scored, threshold=0.5)
    for r in out.collect():
        assert abs(r["cluster_score"] - 0.9) < 1e-9


def test_add_singletons(spark):
    records = spark.createDataFrame([("a",), ("b",), ("z",)], "url string")
    clustered = spark.createDataFrame(
        [("a", "a", 0.9), ("b", "a", 0.9)],
        "record_id string, cluster_id string, cluster_score double",
    )
    out = clustering.add_singletons(records, "url", clustered)
    rows = {r["record_id"]: r for r in out.collect()}
    assert rows["z"]["cluster_id"] == "z" and rows["z"]["cluster_score"] == 1.0
    assert len(rows) == 3


def test_split_oversize_components(spark, monkeypatch):
    # two tight triangles joined by one weak edge; cap forces a split
    tri1 = [("a", "b", 0.95), ("b", "c", 0.95), ("a", "c", 0.95)]
    tri2 = [("x", "y", 0.95), ("y", "z", 0.95), ("x", "z", 0.95)]
    bridge = [("c", "x", 0.55)]
    scored = spark.createDataFrame(
        tri1 + tri2 + bridge, "src string, dst string, score double"
    )
    merged = clustering.cluster_edges(scored, threshold=0.5)
    assert len(comp_sets(merged.select("record_id", "cluster_id"))) == 1
    monkeypatch.setattr(clustering, "MAX_COMPONENT", 4)
    split = clustering.split_oversize_components(scored, merged, threshold=0.5)
    got = comp_sets(split.select("record_id", "cluster_id"))
    assert frozenset({"a", "b", "c"}) in got and frozenset({"x", "y", "z"}) in got


def test_cc_driver_and_distributed_paths_agree(spark, monkeypatch):
    """The adaptive small-graph fast path must equal the large-star/
    small-star loop on the same random graph, with long ids and with
    string ids (non-ASCII ones included), and label every component by
    its minimum member id in the ids' own order."""
    import random

    from ny_campaign_finance_dedupe_spark.operators import clustering as C

    rng = random.Random(13)
    edges = [(rng.randrange(300), rng.randrange(300)) for _ in range(400)]
    edges = [(a, b) for a, b in edges if a != b]
    # string order differs from numeric order ("10" < "9"), and the
    # non-ASCII suffixes pin code-point order == Spark's UTF-8 order
    sfx = ["", "é", "z", "\u4e00"]
    graphs = {
        "long": edges,
        "string": [(f"{a}{sfx[a % 4]}", f"{b}{sfx[b % 4]}") for a, b in edges],
    }
    for id_type, rows in graphs.items():
        df = spark.createDataFrame(rows, f"src {id_type}, dst {id_type}")
        fast = {
            (r["record_id"], r["cluster_id"])
            for r in C.connected_components(df).collect()
        }
        with monkeypatch.context() as m:
            m.setattr(C, "DRIVER_CC_MAX_EDGES", 0)
            slow = {
                (r["record_id"], r["cluster_id"])
                for r in C.connected_components(df).collect()
            }
        assert fast == slow, id_type
        by = {}
        for rid, cid in fast:
            by.setdefault(cid, set()).add(rid)
        assert all(cid == min(ms) for cid, ms in by.items()), id_type


def test_canonical_mode_ignores_nulls(spark):
    from ny_campaign_finance_dedupe_spark.plans import reports

    df = spark.createDataFrame(
        [(1, None), (1, None), (1, None), (1, "acme corp"), (1, "acme co"),
         (2, None), (2, None),
         (3, "b"), (3, "a")],
        "cluster_id long, name string",
    )
    got = {
        r["cluster_id"]: r["canonical_value"]
        for r in reports.canonical_value_per_cluster(df, "name").collect()
    }
    # NULL (3 occurrences) must not beat the real values in cluster 1;
    # all-NULL cluster 2 yields no row; ties break ascending (cluster 3)
    assert got == {1: "acme co", 3: "a"}


def test_split_oversize_per_component_threshold(spark, monkeypatch):
    """Each oversize component re-filters at ITS OWN min kept score: a
    high-score chain must split in the same rounds as a low-score one,
    not wait for the global min tier to be peeled first."""
    def chain(ids, score):
        return [(ids[i], ids[i + 1], score) for i in range(len(ids) - 1)]

    # two 6-member chains at very different score tiers; cap 4 forces
    # both to split. With a GLOBAL min threshold, round 1's
    # sigmoid(logit(0.55)+1)~0.77 removes nothing from the 0.97 chain
    # and the rounds can run out on the high tier.
    low = chain(["l1", "l2", "l3", "l4", "l5", "l6"], 0.55)
    high = chain(["h1", "h2", "h3", "h4", "h5", "h6"], 0.97)
    scored = spark.createDataFrame(
        low + high, "src string, dst string, score double"
    )
    merged = clustering.cluster_edges(scored, threshold=0.5)
    monkeypatch.setattr(clustering, "MAX_COMPONENT", 4)
    monkeypatch.setattr(clustering, "MAX_SPLIT_ROUNDS", 3)
    split = clustering.split_oversize_components(scored, merged, threshold=0.5)
    sizes = [len(s) for s in comp_sets(split.select("record_id", "cluster_id"))]
    assert max(sizes) <= 4, sizes
