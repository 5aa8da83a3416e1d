"""External golden-dataset evaluation (VERDICT r02 #7).

The corpus is tests/datasets/restaurants_golden.csv — a frozen,
hand-authored fixture schema-faithful to the reference's restaurant
datasets (dedupe/tests/datasets/restaurant-1.csv: name, address, city,
cuisine, unique_id) whose entities and variation rules share nothing
with synth.synth_pages' generator. The test runs the real structured-
record pipeline — normalize, multi-predicate blocking, candidate
pairs, per-field variable features, a logistic classifier trained on a
disjoint entity split, connected-components clustering — and asserts
the pairwise P/R/F1 report of the reference's canonical evaluation
(dedupe/tests/canonical.py:28-39): F1 >= 0.9 on held-out entities.
"""

import pathlib

import pyspark.sql.functions as F
import pytest

from ny_campaign_finance_dedupe_spark.functions import keygen, normalize
from ny_campaign_finance_dedupe_spark.operators import (
    blocking,
    clustering,
    pairs,
    scoring,
)
from ny_campaign_finance_dedupe_spark.plans.evaluate import (
    clusters_to_pairs,
    evaluate_pairs,
)

CSV = pathlib.Path(__file__).parent / "datasets" / "restaurants_golden.csv"

SPEC = [
    {"field": "name", "type": "String"},
    {"field": "address", "type": "String"},
    {"field": "city", "type": "String"},
    {"field": "cuisine", "type": "String"},
]
FEATS = ["name", "address", "city", "cuisine"]


@pytest.fixture(scope="module")
def golden(spark):
    raw = spark.read.csv(str(CSV), header=True, inferSchema=True)
    nm = normalize.normalize_text(F.col("name"))
    recs = raw.select(
        F.col("record_id").cast("long"),
        F.col("unique_id").cast("long"),
        # blocking name: leading article stripped so "the rusty anchor"
        # and "rusty anchor" co-block
        F.regexp_replace(nm, r"^the\s+", "").alias("name"),
        normalize.canonicalize_abbrev(
            normalize.normalize_text(F.col("address"))
        ).alias("address"),
        normalize.normalize_text(F.col("city")).alias("city"),
        normalize.normalize_text(F.col("cuisine")).alias("cuisine"),
    ).localCheckpoint()
    truth = (
        recs.alias("a")
        .join(recs.alias("b"), F.col("a.unique_id") == F.col("b.unique_id"))
        .where(F.col("a.record_id") < F.col("b.record_id"))
        .select(
            F.col("a.record_id").alias("url_a"),
            F.col("b.record_id").alias("url_b"),
        )
        .localCheckpoint()
    )
    return recs, truth


def _blocked_scored(recs, model=None, idf=None):
    """Blocking + hydration + variable features (+ optional scoring)."""
    preds = {
        "name_ft": keygen.first_token(F.col("name")),
        "name_ph": keygen.phonetic(F.col("name")),
        "addr7": keygen.prefix(F.col("address"), 7),
    }
    bm = blocking.build_blocking_map(recs, "record_id", preds)
    cand = pairs.candidate_pairs(bm)
    hyd = pairs.hydrate_pairs(cand, recs, "record_id", FEATS)
    feats = scoring.with_variable_features(hyd, SPEC, idf)
    return cand, feats


def test_golden_restaurants_f1(spark, golden):
    recs, truth = golden
    # disjoint entity split: train on even unique_ids, evaluate on odd
    train = recs.where(F.col("unique_id") % 2 == 0)
    test = recs.where(F.col("unique_id") % 2 == 1)

    t_flag = truth.withColumn("label", F.lit(1))

    def label(feats):
        return feats.join(
            t_flag,
            (F.col("src") == F.col("url_a")) & (F.col("dst") == F.col("url_b")),
            "left",
        ).select(*FEATS, F.coalesce("label", F.lit(0)).alias("label"),
                 "src", "dst")

    _, train_feats = _blocked_scored(train)
    model = scoring.train_logistic(
        label(train_feats), features=FEATS, epochs=8000, lr=1.0
    )

    cand, test_feats = _blocked_scored(test)
    scored = scoring.score_pairs(
        label(test_feats), model
    )
    edges = scored.where(F.col("score") >= 0.5).select(
        "src", "dst", "score"
    )
    clustered = clustering.add_singletons(
        test, "record_id", clustering.cluster_edges(edges)
    )
    pred = clusters_to_pairs(clustered.select("record_id", "cluster_id"))
    test_truth = truth.join(
        test.select(F.col("record_id").alias("url_a")), "url_a", "left_semi"
    )
    ev = evaluate_pairs(
        pred, cand.select("src", "dst"), test_truth
    )
    # the canonical.py report: precision / recall / F1 on a corpus the
    # runtime generator did not produce
    assert ev.blocking_recall >= 0.9, ev
    assert ev.f1 >= 0.9, ev


def test_golden_restaurants_schema_faithful():
    import csv

    with open(CSV) as f:
        rows = list(csv.DictReader(f))
    assert set(rows[0].keys()) == {
        "record_id", "name", "address", "city", "cuisine", "unique_id"
    }
    assert len(rows) >= 700
    # ground truth covers duplicates AND singletons
    from collections import Counter

    sizes = Counter(Counter(r["unique_id"] for r in rows).values())
    assert sizes[1] >= 30 and sizes[2] >= 100 and sizes[3] >= 30
