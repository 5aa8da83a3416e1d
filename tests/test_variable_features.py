"""The declarative variable system compiled to Catalyst features —
reference parity with dedupe's field types (SURVEY.md §1.2 table)."""

import math

import pytest

from ny_campaign_finance_dedupe_spark.operators import scoring


def _feat(spark, rows, schema, spec):
    df = spark.createDataFrame(rows, schema)
    out = scoring.with_variable_features(df, spec)
    return out.collect()[0]


def test_exact_price_variables(spark):
    r = _feat(
        spark,
        [("x", "x", 100.0, 1000.0)],
        "name_a string, name_b string, amt_a double, amt_b double",
        [
            {"field": "name", "type": "Exact"},
            {"field": "amt", "type": "Price"},
        ],
    )
    assert r["name"] == 1.0
    assert r["amt"] == pytest.approx(1.0)  # |log10(100)-log10(1000)|


def test_price_nonpositive_is_zero(spark):
    r = _feat(
        spark,
        [(0.0, 10.0)],
        "amt_a double, amt_b double",
        [{"field": "amt", "type": "Price"}],
    )
    assert r["amt"] == 0.0


def test_latlong_sqrt_haversine(spark):
    # ~111.2 km per degree of latitude at the equator
    r = _feat(
        spark,
        [("0.0,0.0", "1.0,0.0")],
        "pos_a string, pos_b string",
        [{"field": "pos", "type": "LatLong"}],
    )
    assert r["pos"] == pytest.approx(math.sqrt(111.19), rel=1e-3)


def test_set_and_categorical(spark):
    r = _feat(
        spark,
        [(["a", "b"], ["b", "c"], "IND", "IND")],
        "tags_a array<string>, tags_b array<string>, typ_a string, typ_b string",
        [
            {"field": "tags", "type": "Set"},
            {"field": "typ", "type": "Categorical", "categories": ["IND", "CORP"]},
        ],
    )
    assert r["tags"] == pytest.approx(0.5)  # 1 / sqrt(2*2)
    # full dummy expansion over sorted cats [CORP, IND]: outcomes are
    # (CORP,) [baseline, dropped], (IND,), (CORP, IND)
    assert "typ" not in r
    assert "typ_is_CORP" not in r  # baseline outcome carries no column
    assert r["typ_is_IND"] == 1.0
    assert r["typ_is_CORP_IND"] == 0.0


def test_categorical_full_dummy_expansion(spark):
    """Reference semantics (categorical_type.py:6-34 / the public
    categorical-distance comparator): k identity outcomes + C(k,2)
    unordered cross-pair outcomes, first outcome dropped as baseline →
    exactly k + C(k,2) - 1 columns, one hot per pair."""
    spec = [{"field": "t", "type": "Categorical",
             "categories": ["IND", "CORP", "PAC"]}]
    cols = scoring.variable_features(spec)
    # sorted cats [CORP, IND, PAC]: baseline (CORP,) dropped; 3+3-1=5
    assert sorted(cols) == [
        "t_is_CORP_IND", "t_is_CORP_PAC", "t_is_IND", "t_is_IND_PAC",
        "t_is_PAC",
    ]
    r = _feat(spark, [("PAC", "IND")], "t_a string, t_b string", spec)
    assert r["t_is_IND_PAC"] == 1.0  # unordered: (PAC, IND) = (IND, PAC)
    assert r["t_is_IND"] == 0.0 and r["t_is_PAC"] == 0.0
    r2 = _feat(spark, [("CORP", "CORP")], "t_a string, t_b string", spec)
    assert all(r2[c] == 0.0 for c in cols)  # baseline: all dummies zero


def test_missing_indicator_and_exists(spark):
    r = _feat(
        spark,
        [("x", None)],
        "name_a string, name_b string",
        [
            {"field": "name", "type": "Exact", "has missing": True},
            {"field": "name", "type": "Exists"},
        ],
    )
    assert r["name"] == 0.0
    assert r["name_missing"] == 1.0
    assert r["name_both"] == 0.0
    assert r["name_one"] == 1.0


def test_interaction_product(spark):
    r = _feat(
        spark,
        [("x", "x", "y", "y")],
        "a_a string, a_b string, b_a string, b_b string",
        [
            {"field": "a", "type": "Exact"},
            {"field": "b", "type": "Exact"},
            {"type": "Interaction", "interaction": ["a", "b"]},
        ],
    )
    assert r["a_x_b"] == 1.0


def test_interaction_missing_indicator(spark):
    """An interaction of any has-missing field emits its own _missing
    indicator (interaction.py:20-24, datamodel.py:178-184): 1 when any
    component value is absent, 0 when all present — and no indicator at
    all when no component declares 'has missing'."""
    spec = [
        {"field": "a", "type": "Exact", "has missing": True},
        {"field": "b", "type": "Exact"},
        {"type": "Interaction", "interaction": ["a", "b"]},
    ]
    r = _feat(
        spark,
        [(None, "x", "y", "y")],
        "a_a string, a_b string, b_a string, b_b string",
        spec,
    )
    assert r["a_x_b"] == 0.0  # missing comparison zeroes the product
    assert r["a_x_b_missing"] == 1.0
    r2 = _feat(
        spark,
        [("x", "x", "y", "y")],
        "a_a string, a_b string, b_a string, b_b string",
        spec,
    )
    assert r2["a_x_b_missing"] == 0.0
    cols = scoring.variable_features(
        [
            {"field": "a", "type": "Exact"},
            {"field": "b", "type": "Exact"},
            {"type": "Interaction", "interaction": ["a", "b"]},
        ]
    )
    assert "a_x_b_missing" not in cols


def test_interaction_over_categorical_expands_dummies(spark):
    """An interaction referencing a Categorical field fans out across
    its dummy columns (the reference expands higher_vars) instead of
    raising KeyError on the missing base column."""
    r = _feat(
        spark,
        [("p", "p", "x", "x")],
        "typ_a string, typ_b string, nm_a string, nm_b string",
        [
            {"field": "typ", "type": "Categorical", "categories": ["c", "p"]},
            {"field": "nm", "type": "Exact"},
            {"type": "Interaction", "interaction": ["typ", "nm"]},
        ],
    )
    # dummies for categories {c, p}: baseline (c,c) dropped ->
    # typ_is_p and typ_is_c_p remain; each interacts with nm
    assert r["typ_is_p_x_nm"] == 1.0
    assert r["typ_is_c_p_x_nm"] == 0.0


def test_string_variable_uses_affine_gap(spark):
    """String routes through the reference comparator (StringType
    inherits ShortStringType's affineGap, variables/string.py:45-66):
    identical strings cost exactly the match weight (normalized -> 1.0),
    dissimilar strings cost strictly more, and String == ShortString
    feature-for-feature."""
    r = _feat(
        spark,
        [("main street", "main street", "main street", "oak avenue")],
        "s1_a string, s1_b string, s2_a string, s2_b string",
        [
            {"field": "s1", "type": "String"},
            {"field": "s2", "type": "ShortString"},
        ],
    )
    assert r["s1"] == pytest.approx(1.0)  # identical -> match weight
    assert r["s2"] > r["s1"]  # affine-gap DISTANCE grows with dissimilarity
    import pandas as pd

    (want,) = scoring.affine_gap_batch(
        pd.Series(["main street"]), pd.Series(["oak avenue"])
    )
    assert r["s2"] == pytest.approx(want)


def test_implicit_string_default_warns(spark):
    """A spec entry that omits "type" still defaults to String (the
    reference's default field type), but warns once — round 4 inverted
    String's direction (similarity blend -> affine-gap DISTANCE), so a
    silent default would silently invert features under an old model."""
    df = spark.createDataFrame([("a", "b")], "name_a string, name_b string")
    with pytest.warns(UserWarning, match="StringFast"):
        out = scoring.with_variable_features(df, [{"field": "name"}])
    assert "name" in out.columns
    # explicit type: no warning
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("error")
        scoring.with_variable_features(
            df, [{"field": "name", "type": "String"}]
        )


def test_crf_spec_key_fails_fast(spark):
    """The reference's optional {"crf": True} comparator
    (variables/string.py:56-66) swaps in highered's PRETRAINED CRF edit
    distance — model weights this engine cannot ship or honestly
    reimplement. The spec key is recognized and refused loudly (declared
    boundary), never silently scored with a different comparator."""
    df = spark.createDataFrame(
        [("a", "b")], "name_a string, name_b string"
    )
    with pytest.raises(NotImplementedError, match="crf"):
        scoring.with_variable_features(
            df, [{"field": "name", "type": "String", "crf": True}]
        )
    # crf: False is the reference default — plain affine-gap, no error
    out = scoring.with_variable_features(
        df, [{"field": "name", "type": "ShortString", "crf": False}]
    )
    assert "name" in out.columns


def test_stringfast_variable_blends_cosine_and_lev(spark):
    """StringFast keeps this engine's cheaper Catalyst-native blend
    (similarity semantics: identical -> 1.0, dissimilar -> small)."""
    r = _feat(
        spark,
        [("main street", "main street", "main street", "oak avenue")],
        "s1_a string, s1_b string, s2_a string, s2_b string",
        [
            {"field": "s1", "type": "StringFast"},
            {"field": "s2", "type": "StringFast"},
        ],
    )
    assert r["s1"] == pytest.approx(1.0)
    assert r["s2"] < 0.5


def test_tfidf_vectorized_matches_reference_formula(spark):
    """The vectorized TF-IDF kernel must equal the per-row definition:
    cos = sum(idf(t)^2, t in A&B) / sqrt(sum_A idf^2 * sum_B idf^2)."""
    import pyspark.sql.functions as F

    from ny_campaign_finance_dedupe_spark.operators import scoring

    idf = {"acme": 3.0, "corp": 1.2, "the": 1.01, "plumbing": 2.5}
    default = 4.0

    def ref(a, b):
        sa, sb = set(a.split()), set(b.split())
        if not sa or not sb:
            return 0.0
        g = lambda t: idf.get(t, default)
        num = sum(g(t) ** 2 for t in sa & sb)
        return num / (
            (sum(g(t) ** 2 for t in sa) * sum(g(t) ** 2 for t in sb)) ** 0.5
        )

    rows = [
        ("acme corp", "acme corp"),
        ("acme corp", "the acme plumbing corp"),
        ("the the acme", "acme"),           # per-row token dedup
        ("unseen tokens here", "unseen zz"),  # default idf path
        ("", "acme"),
        (None, "acme"),
    ]
    df = spark.createDataFrame(rows, "a string, b string")
    got = df.select(
        scoring.tfidf_cosine_udf(idf, default)(F.col("a"), F.col("b")).alias(
            "c"
        )
    ).collect()
    for (a, b), r in zip(rows, got):
        want = ref(a or "", b or "")
        assert abs(r["c"] - want) < 1e-12, (a, b, r["c"], want)


def _affine_gap_scalar(
    s1, s2, match=1.0, mismatch=11.0, go=10.0, ge=7.0, ab=0.125
):
    """Independent scalar full-Gotoh DP: gap states may follow ANY state
    at the predecessor cell; gap costs for chars beyond the other
    string's length scale by the abbreviation discount."""
    import math

    l1, l2 = len(s1), len(s2)
    INF = math.inf
    M = [[INF] * (l2 + 1) for _ in range(l1 + 1)]
    X = [[INF] * (l2 + 1) for _ in range(l1 + 1)]
    Y = [[INF] * (l2 + 1) for _ in range(l1 + 1)]
    M[0][0] = 0.0
    for j in range(1, l2 + 1):
        fx = ab if j > l1 else 1.0
        X[0][j] = (go + ge) * fx if j == 1 else X[0][j - 1] + ge * fx
    for i in range(1, l1 + 1):
        fy = ab if i > l2 else 1.0
        Y[i][0] = (go + ge) * fy if i == 1 else Y[i - 1][0] + ge * fy
    for i in range(1, l1 + 1):
        fy = ab if i > l2 else 1.0
        for j in range(1, l2 + 1):
            fx = ab if j > l1 else 1.0
            sub = match if s1[i - 1] == s2[j - 1] else mismatch
            M[i][j] = sub + min(M[i-1][j-1], X[i-1][j-1], Y[i-1][j-1])
            X[i][j] = min(
                min(M[i][j-1], Y[i][j-1]) + (go + ge) * fx,
                X[i][j-1] + ge * fx,
            )
            Y[i][j] = min(
                min(M[i-1][j], X[i-1][j]) + (go + ge) * fy,
                Y[i-1][j] + ge * fy,
            )
    d = min(M[l1][l2], X[l1][l2], Y[l1][l2])
    if not (l1 or l2):
        return 0.0
    return (0.0 if d == INF else d) / max((l1 + l2) / 2.0, 1.0)


def test_affine_gap_batch_matches_scalar_dp():
    import random

    import pandas as pd

    from ny_campaign_finance_dedupe_spark.operators.scoring import (
        affine_gap_batch,
    )

    rng = random.Random(17)
    cases = [("", ""), ("a", ""), ("", "ab"), ("abc", "abc"),
             ("abcd", "abxd"), ("abcd", "abd"), ("acme corp", "acme corporation")]
    for _ in range(400):
        cases.append(
            ("".join(rng.choice("abcd ") for _ in range(rng.randint(0, 9))),
             "".join(rng.choice("abcd ") for _ in range(rng.randint(0, 9))))
        )
    a = pd.Series([c[0] for c in cases])
    b = pd.Series([c[1] for c in cases])
    got = affine_gap_batch(a, b)
    for i, (s1, s2) in enumerate(cases):
        want = _affine_gap_scalar(s1, s2)
        assert abs(got[i] - want) < 1e-9, (s1, s2, got[i], want)
    # identical strings normalize to exactly the match weight
    assert got[3] == 1.0


def test_affine_gap_cross_state_and_abbreviation():
    import pandas as pd

    from ny_campaign_finance_dedupe_spark.operators.scoring import (
        affine_gap_batch,
    )

    # cross-gap-state path: under mismatch=100 the optimum for 'a' vs
    # 'b' is delete+insert (two adjacent opposite-direction gaps,
    # 2*(open+extend) = 34), NOT the 100-cost substitution — a
    # recurrence that forbids X->Y adjacency returns 100
    (d,) = affine_gap_batch(
        pd.Series(["a"]), pd.Series(["b"]), mismatch=100.0,
        abbreviation_scale=1.0,
    )
    assert d == pytest.approx(34.0)
    # abbreviation discount: the tail of the longer string beyond the
    # shorter's length is gapped at 1/8th cost, so the abbreviation
    # pair scores well below the same distance without the discount
    full = affine_gap_batch(
        pd.Series(["acme corp"]), pd.Series(["acme corporation"]),
        abbreviation_scale=1.0,
    )[0]
    disc = affine_gap_batch(
        pd.Series(["acme corp"]), pd.Series(["acme corporation"]),
    )[0]
    assert disc < full


def test_short_string_variable_uses_affine_gap(spark):
    r = _feat(
        spark,
        [("acme corp", "acme corp", "acme corp", "zzz")],
        "s1_a string, s1_b string, s2_a string, s2_b string",
        [
            {"field": "s1", "type": "ShortString"},
            {"field": "s2", "type": "ShortString"},
        ],
    )
    assert r["s1"] == pytest.approx(1.0)  # identical -> match weight
    assert r["s2"] > r["s1"]  # distance grows with dissimilarity


def test_pairwise_comparators_bounded_by_prefix():
    # one dirty 50k-char value must not scale the whole batch's DP state
    # (PAIRWISE_PREFIX truncation); result equals comparing the prefixes
    import time

    import pandas as pd

    from ny_campaign_finance_dedupe_spark.operators import scoring

    long_s = "abcdefghij" * 5000  # 50k chars
    a = pd.Series([long_s, "acme corp"])
    b = pd.Series([long_s[:30000], "acme corporation"])
    t0 = time.perf_counter()
    got = scoring.affine_gap_batch(a, b)
    assert time.perf_counter() - t0 < 30.0
    pfx = scoring.PAIRWISE_PREFIX
    exp = scoring.affine_gap_batch(
        pd.Series([long_s[:pfx]]), pd.Series([long_s[:30000][:pfx]])
    )
    assert got[0] == exp[0]
