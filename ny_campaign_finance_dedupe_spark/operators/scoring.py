"""Pairwise scoring: feature vectors -> match probability.

Reference: per pair, per field, a comparator produces a float32 distance;
interactions are row products; NaN -> 0 plus a missing-indicator column
(dedupe/datamodel.py:74-115); a regularized logistic regression maps the
feature row to P(match) (dedupe/core.py:149-150, rlr alpha=0.1,
api.py:952). The whole producer/worker/merge process topology
(core.py:113-293) collapses to ``withColumn`` over a partitioned
DataFrame — Spark's partition parallelism IS the process pool, shuffle
spill IS the memmap.

Spark-first feature set (all native Catalyst expressions, codegen'd,
no Python in the hot path):
  f_cosine   token-set cosine            (Set variable, variables/set.py:6-27)
  f_jaccard  token-set Jaccard           (TF-IDF-cosine stand-in per north_star)
  f_lev      levenshtein ratio, prefix-bounded  (String affine-gap analog,
             variables/string.py:45-75; F.levenshtein is JVM-native)
  f_len      length ratio
  f_missing  1 - both-present indicator  (datamodel.py:107-113)

The classifier is a broadcast-weight sigmoid column expression — a dot
product folded into whole-stage codegen; training happens once,
driver-side, on the (small, by construction) labeled-pairs set exactly
like the reference's offline ``classifier.fit`` (api.py:1043-1044).
"""

from __future__ import annotations

import itertools
from collections.abc import Iterator
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import Column, DataFrame

FEATURES = ["f_cosine", "f_jaccard", "f_lev", "f_len", "f_missing"]
# Levenshtein is O(len^2) per pair: bound it like the reference bounds
# comparator cost by comparing normalized short fields. 120 chars of
# normalized text is the "name line" of a page.
LEV_PREFIX = 120

# The pairwise affine-gap DP allocates per-batch state sized by the
# LONGEST string in the Arrow batch and loops O(L1*L2) whole-batch
# steps: one dirty 50k-char value would scale a 10k-row batch to ~40 GB
# of DP state. Same reasoning as LEV_PREFIX; it is a short-field
# (name/address-line) comparator.
PAIRWISE_PREFIX = 256


def feature_columns(text_a: Column, text_b: Column) -> dict[str, Column]:
    """Native feature expressions over two normalized-text columns.

    Tokenization splits on a LITERAL single space: the normalized-text
    contract (functions/normalize.normalize_text collapses all runs of
    whitespace to one space) makes it equivalent to the former ``\\s+``
    regex split, it is what the DuckDB oracle mirror has always computed
    (``string_split(t, ' ')``), and the non-regex scan is measurably
    cheaper per pair (~8% on the cosine term at 312k pairs)."""
    ta = F.split(text_a, " ")
    tb = F.split(text_b, " ")
    sa = F.array_distinct(ta)
    sb = F.array_distinct(tb)
    inter = F.size(F.array_intersect(sa, sb)).cast("double")
    na = F.size(sa).cast("double")
    nb = F.size(sb).cast("double")
    cosine = inter / F.sqrt(na * nb)
    jaccard = inter / (na + nb - inter)
    pa = F.substring(text_a, 1, LEV_PREFIX)
    pb = F.substring(text_b, 1, LEV_PREFIX)
    ln = F.least(F.length(text_a), F.length(text_b)) / F.greatest(
        F.length(text_a), F.length(text_b), F.lit(1)
    )
    # Guard the O(len^2) comparator behind the cheap length-ratio test —
    # the compound-predicate trick applied to scoring: wildly different
    # lengths can't be matches, so skip the expensive distance (CASE
    # short-circuits per row inside codegen). The gate tests the PREFIX
    # lengths (the strings levenshtein actually sees): two documents with
    # identical 120-char prefixes but 1:3 full lengths are still
    # edit-similar on the compared field and must not be zeroed.
    lnp = F.least(F.length(pa), F.length(pb)) / F.greatest(
        F.length(pa), F.length(pb), F.lit(1)
    )
    # Equal non-empty prefixes short-circuit the DP entirely: distance 0
    # => similarity exactly 1.0, and near-duplicate corpora hit this arm
    # constantly (37% of candidate pairs on the 500k-page synth corpus;
    # -35% f_lev wall). Value-identical to running levenshtein — the
    # non-empty gate keeps the two-empty-prefix edge on the old path,
    # where the lnp gate scores it 0.0 (empty text never reaches here
    # from the pipeline, which NULLs '' at normalize; this guards the
    # public-API case). The oracle mirror is unchanged on purpose: same
    # values, cheaper plan.
    eq_prefix = (pa == pb) & (F.length(pa) > 0)
    lev = F.when(eq_prefix, F.lit(1.0)).otherwise(
        F.when(
            lnp < 0.4, F.lit(0.0)
        ).otherwise(
            1.0
            - F.levenshtein(pa, pb)
            / F.greatest(F.length(pa), F.length(pb), F.lit(1))
        )
    )
    present = text_a.isNotNull() & text_b.isNotNull()
    # NaN->0 + missing indicator (datamodel.py:96-115)
    feats = {
        "f_cosine": cosine,
        "f_jaccard": jaccard,
        "f_lev": lev,
        "f_len": ln,
    }
    out = {
        k: F.when(present, F.coalesce(v.cast("double"), F.lit(0.0))).otherwise(0.0)
        for k, v in feats.items()
    }
    out["f_missing"] = (~present).cast("double")
    return out


def with_features(
    pairs: DataFrame, text_a: str = "text_a", text_b: str = "text_b"
) -> DataFrame:
    cols = feature_columns(F.col(text_a), F.col(text_b))
    return pairs.select(
        "*", *[expr.alias(name) for name, expr in cols.items()]
    )


@dataclass
class LogisticModel:
    """(weights, bias) over FEATURES — the reference's settings-file
    artifact (api.py:1069-1086) as a plain JSON-able dataclass."""

    weights: dict[str, float] = field(
        default_factory=lambda: {
            # sensible prior: similarity features vote for, missing against.
            "f_cosine": 6.0,
            "f_jaccard": 4.0,
            "f_lev": 4.0,
            "f_len": 1.0,
            "f_missing": -4.0,
        }
    )
    bias: float = -7.0

    def logit_column(self) -> Column:
        """z = w.x + b. Rank on this, not on the score: the sigmoid
        saturates to 1.0 and ties distinct logits."""
        z = F.lit(float(self.bias))
        for name, w in self.weights.items():
            z = z + F.lit(float(w)) * F.col(name)
        return z

    def score_column(self) -> Column:
        return 1.0 / (1.0 + F.exp(-self.logit_column()))

    def to_dict(self) -> dict:
        return {"weights": self.weights, "bias": self.bias}

    @classmethod
    def from_dict(cls, d: dict) -> "LogisticModel":
        return cls(weights=dict(d["weights"]), bias=float(d["bias"]))


def score_pairs(pairs_with_features: DataFrame, model: LogisticModel) -> DataFrame:
    """Append ``score`` = sigmoid(w.x + b) — one native column expression."""
    return pairs_with_features.withColumn("score", model.score_column())


def train_logistic(
    labeled: DataFrame,
    l2: float = 0.1,
    lr: float = 0.5,
    epochs: int = 400,
    features: list[str] | None = None,
) -> LogisticModel:
    """Fit L2-regularized logistic regression on a labeled feature frame
    (columns ``features`` + ``label``; default FEATURES — the text-pair
    family). Driver-side numpy batch gradient descent — the labeled set
    is small by design (the reference trains on ~1500 actively-labeled
    pairs, api.py:1212-1250), so shipping it to the driver is the right
    physical plan; alpha mirrors rlr's 0.1.
    """
    feats = list(features) if features is not None else FEATURES
    pdf = labeled.select(*feats, "label").toPandas()
    X = pdf[feats].to_numpy(dtype=np.float64)
    y = pdf["label"].to_numpy(dtype=np.float64)
    w = np.zeros(X.shape[1])
    b = 0.0
    n = len(y)
    for _ in range(epochs):
        z = X @ w + b
        p = 1.0 / (1.0 + np.exp(-z))
        g = p - y
        w -= lr * ((X.T @ g) / n + l2 * w / n)
        b -= lr * g.mean()
    return LogisticModel(
        weights={f: float(wi) for f, wi in zip(feats, w)}, bias=float(b)
    )


VARIABLE_TYPES = ("String", "ShortString", "StringFast", "Text", "Exact",
                  "Price", "LatLong", "Set", "Categorical", "Exists")


def variable_features(
    spec: list[dict], idf: dict[str, float] | None = None
) -> dict[str, Column]:
    """Compile the reference's declarative variable definition list
    (campaign_finance_dedupe.py:172-178; registry dedupe/variables/*) to
    named Catalyst feature expressions over hydrated pair columns
    ``<field>_a`` / ``<field>_b``.

    | type | distance | reference |
    |---|---|---|
    | String/ShortString | normalized affine-gap distance (Gotoh DP) — StringType inherits ShortStringType's comparator | variables/string.py:45-66 |
    | StringFast | token-set cosine + bounded levenshtein ratio — this engine's cheaper Catalyst-native blend, NOT a reference type; also the Text fallback when no idf is supplied | — |
    | Text (with idf) | corpus-IDF-weighted cosine | variables/string.py:78-93 |
    | Exact | 0/1 equality | variables/exact.py:5-14 |
    | Price | abs(log10(a) - log10(b)), NaN->0 for non-positive | variables/price.py:6-19 |
    | LatLong | sqrt(haversine km) | variables/latlong.py:8-15 |
    | Set | array cosine overlap | variables/set.py:6-27 |
    | Categorical | full dummy expansion: one 0/1 column per outcome
      (identity match per category + unordered cross pair), first
      outcome dropped as baseline | variables/categorical_type.py:6-34 |
    | Exists | both-present / one-present indicators | variables/exists.py:8-35 |

    Entries: {"field": name, "type": t, "has missing": bool,
    "categories": [...], "interaction": [f1, f2]}. Interactions
    (variables/interaction.py:5-61) multiply previously-defined feature
    columns; an interaction of any has-missing field additionally emits
    a ``<f1>_x_<f2>_missing`` indicator (interaction.py:20-24,
    datamodel.py:178-184). Every feature NaN/null-coalesces to 0 with a
    companion ``<field>_missing`` indicator when "has missing" is set
    (datamodel.py:96-115).
    """
    out: dict[str, Column] = {}
    # exact record of which feature columns each FIELD produced (dummy
    # names are not recoverable by prefix: field "addr" would capture an
    # unrelated field "addr_city"); _missing indicators are not features
    # and never interact (but see the Interaction branch: an interaction
    # of any has-missing field gets its OWN _missing indicator)
    field_cols: dict[str, list[str]] = {}
    has_missing_fields: set[str] = {
        v["field"] for v in spec if v.get("has missing") and "field" in v
    }
    for var in spec:
        t = var.get("type", "String")
        if "type" not in var and "field" in var:
            # String semantics changed in round 4 (similarity blend ->
            # the reference's affine-gap DISTANCE, direction inverted).
            # Explicit "String" users see the table above; implicit
            # defaulters get one loud signal instead of silently
            # inverted features under an old model/threshold.
            import warnings

            warnings.warn(
                f'variable spec for field "{var["field"]}" omits "type"; '
                'defaulting to "String", which is now the affine-gap '
                "DISTANCE (higher = more different). Use "
                '"StringFast" for the previous cosine+levenshtein '
                "similarity blend.",
                stacklevel=2,
            )
        if t == "Interaction":
            f1, f2 = var["interaction"]

            def _components(fld: str) -> list[str]:
                # the reference interacts with each of a field's columns
                # (variables/interaction.py:25-40 expands higher_vars):
                # one column for scalar comparators, every dummy for
                # Categorical/Exists
                cols = field_cols.get(fld)
                if not cols:
                    raise ValueError(
                        f'Interaction "{f1}"x"{f2}": field "{fld}" has no'
                        " feature columns (define it before the"
                        " interaction)"
                    )
                return cols

            comps1, comps2 = _components(f1), _components(f2)
            for k1 in comps1:
                for k2 in comps2:
                    out[f"{k1}_x_{k2}"] = out[k1] * out[k2]
            # the reference marks an interaction has_missing when ANY
            # component field has it and appends a MissingDataType
            # feature for the interaction itself (interaction.py:20-24,
            # datamodel.py:178-184): 1 when any component value is
            # absent (the product columns are 0 there — the indicator
            # lets the classifier separate "absent" from "compared,
            # scored 0")
            if f1 in has_missing_fields or f2 in has_missing_fields:
                p_all = F.lit(True)
                for fld in (f1, f2):
                    p_all = (
                        p_all
                        & F.col(f"{fld}_a").isNotNull()
                        & F.col(f"{fld}_b").isNotNull()
                    )
                out[f"{f1}_x_{f2}_missing"] = (~p_all).cast("double")
            continue
        f = var["field"]
        a, b = F.col(f"{f}_a"), F.col(f"{f}_b")
        present = a.isNotNull() & b.isNotNull()
        if t == "Text" and idf is not None:
            # the real Text comparator: corpus-IDF-weighted cosine
            # (variables/string.py:78-93); pass idf=compute_idf(corpus)
            import math

            # documented OOV weight: ln(1+N)+1 (compute_idf's reserved
            # "" key). An OOV token is rarer than every retained token,
            # so the max-retained fallback (pruned vocabs) would
            # underweight it — used only for hand-built idf dicts
            # missing the key.
            oov = idf.get("")  # None-check, not truthiness: an explicit
            default = (       # 0.0 OOV weight must be honored
                oov
                if oov is not None
                else (max(idf.values()) if idf else math.log(2.0) + 1.0)
            )
            expr = tfidf_cosine_udf(idf, default)(a, b)
        elif t in ("String", "ShortString"):
            # the reference comparator exactly: normalized affine-gap
            # distance (variables/string.py:45-66). StringType inherits
            # ShortStringType's affineGap, so both route here; the
            # cheaper cosine+lev blend remains opt-in as "StringFast"
            if var.get("crf", False) is True:
                # the reference's optional learned comparator
                # (variables/string.py:56-66, {"crf": True}) swaps in
                # highered.CRFEditDistance — a PRETRAINED pairwise CRF
                # whose value comes from its shipped model weights, not
                # its code. Those weights are a binary artifact of the
                # highered package, not public rules that can be
                # reimplemented; a fresh-weights lookalike would score
                # differently while claiming parity. Declared boundary
                # (COVERAGE.md), fail-fast like the compressed-codec one.
                raise NotImplementedError(
                    f'variable "{f}": {{"crf": true}} requires the '
                    "highered package's pretrained CRF model weights, "
                    "which are a binary artifact this engine does not "
                    "ship. Use the default affine-gap comparator "
                    '(omit "crf") or "StringFast".'
                )
            expr = affine_gap_udf()(a, b)
        elif t in ("StringFast", "Text"):
            cols = feature_columns(a, b)
            expr = (cols["f_cosine"] + cols["f_lev"]) / 2.0
        elif t == "Exact":
            expr = (a == b).cast("double")
        elif t == "Price":
            da, db = a.cast("double"), b.cast("double")
            expr = F.when(
                (da > 0) & (db > 0), F.abs(F.log10(da) - F.log10(db))
            ).otherwise(0.0)
        elif t == "LatLong":
            # field packs "lat,lon"; sqrt(haversine) like latlong.py:8-15
            def _ll(c):
                return (
                    F.radians(F.split(c, ",")[0].cast("double")),
                    F.radians(F.split(c, ",")[1].cast("double")),
                )

            la1, lo1 = _ll(a)
            la2, lo2 = _ll(b)
            h = (
                F.pow(F.sin((la2 - la1) / 2), 2)
                + F.cos(la1) * F.cos(la2) * F.pow(F.sin((lo2 - lo1) / 2), 2)
            )
            km = 6371.0 * 2 * F.asin(F.sqrt(h))
            expr = F.sqrt(km)
        elif t == "Set":
            inter = F.size(F.array_intersect(a, b)).cast("double")
            expr = inter / F.sqrt(
                F.size(a).cast("double") * F.size(b).cast("double")
            )
        elif t == "Categorical":
            # The reference's FULL dummy expansion
            # (variables/categorical_type.py:6-34 via the public
            # categorical-distance comparator): outcomes are k identity
            # matches over sorted categories plus C(k,2) unordered cross
            # pairs; the first outcome (both == first category) is the
            # dropped dummy-coding baseline, every other outcome gets
            # its own 0/1 column. No base feature column — the
            # comparator contributes only its higher_vars, exactly
            # len(outcomes) - 1 of them.
            cats = sorted(set(var.get("categories", [])))
            if not cats:
                raise ValueError(f'Categorical "{f}": no "categories"')
            outcomes: list[tuple] = [(c,) for c in cats] + list(
                itertools.combinations(cats, 2)
            )
            field_cols[f] = []
            for outcome in outcomes[1:]:
                if len(outcome) == 1:
                    cond = present & (a == outcome[0]) & (b == outcome[0])
                    name = f"{f}_is_{outcome[0]}"
                else:
                    c1, c2 = outcome
                    cond = present & (
                        ((a == c1) & (b == c2)) | ((a == c2) & (b == c1))
                    )
                    name = f"{f}_is_{c1}_{c2}"
                out[name] = cond.cast("double")
                field_cols[f].append(name)
            if var.get("has missing"):
                out[f"{f}_missing"] = (~present).cast("double")
            continue
        elif t == "Exists":
            out[f"{f}_both"] = present.cast("double")
            out[f"{f}_one"] = (
                a.isNotNull() != b.isNotNull()
            ).cast("double")
            field_cols[f] = [f"{f}_both", f"{f}_one"]
            continue
        else:
            raise ValueError(f"unknown variable type: {t}")
        out[f] = F.when(present, F.coalesce(expr, F.lit(0.0))).otherwise(0.0)
        field_cols[f] = [f]
        if var.get("has missing"):
            out[f"{f}_missing"] = (~present).cast("double")
    return out


def with_variable_features(
    pairs: DataFrame, spec: list[dict], idf: dict[str, float] | None = None
) -> DataFrame:
    cols = variable_features(spec, idf)
    return pairs.select("*", *[c.alias(n) for n, c in cols.items()])


def compute_idf(
    df: DataFrame,
    text_col: str,
    min_df: int = 1,
    max_vocab: int = 1 << 20,
) -> dict[str, float]:
    """Corpus IDF table for the Text comparator (the reference's
    TfidfTextSearchPredicate / variables/string.py:78-93 weighting,
    rebuilt corpus-distributed): one explode + groupBy over distinct
    tokens, top ``max_vocab`` by document frequency collected to the
    driver (the broadcast build side — vocab is capped, so the collect
    is bounded regardless of corpus size). idf = ln((1+N)/(1+df)) + 1
    (smoothed, sklearn-style). Tokens outside the vocab score
    ln((1+N)/1) + 1 at lookup (max rarity) — that default is returned
    under the reserved key "" (str.split() can never produce an empty
    token, so the key cannot collide with a real token); callers that
    build their own idf dicts without it fall back to the max retained
    weight."""
    n = df.count()
    rows = (
        df.select(
            F.explode(
                F.array_distinct(F.split(F.col(text_col), r"\s+"))
            ).alias("tok")
        )
        .where(F.col("tok") != "")
        .groupBy("tok")
        .count()
        .where(F.col("count") >= min_df)
        .orderBy(F.desc("count"), F.asc("tok"))
        .limit(max_vocab)
        .collect()
    )
    import math

    out = {
        r["tok"]: math.log((1.0 + n) / (1.0 + r["count"])) + 1.0 for r in rows
    }
    out[""] = math.log(1.0 + n) + 1.0  # reserved OOV default (see above)
    return out


def tfidf_cosine_udf(idf: dict[str, float], default_idf: float):
    """Arrow-batched pandas UDF: IDF-weighted token-set cosine between
    two text columns — the real Text comparator (TF-IDF cosine), vs the
    unweighted token-set stand-in.

    Hot-path shape (VERDICT r02 #4): the IDF table (up to 2^20 entries)
    ships ONCE per executor via ``sc.broadcast`` — not pickled into
    every task closure — squared once per worker into a plain dict. The
    kernel is per-row over the Arrow batch but all per-token work is
    C-level (str.split, set dedup/membership, dict.get): measured
    2.5-3.3x FASTER than a pandas groupby/merge formulation and
    1.5-1.8x faster than a hashed-token numpy intersect at web-page
    token counts (100-2000 tokens/doc — frame-build/merge/reindex
    constants dominate the former; per-row tokenization + fromiter
    marshalling eat the latter's gains). Measurement: BASELINE.md
    round-4 "TF-IDF kernel micro-bench"."""
    import math

    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    bc = spark.sparkContext.broadcast(idf) if spark is not None else None
    local_idf = None if bc is not None else dict(idf)
    d2 = float(default_idf) ** 2
    cache: dict[str, dict] = {}

    def _w2() -> dict:
        # executor-side: idf^2 lookup table built once per worker
        if "w" not in cache:
            d = bc.value if bc is not None else local_idf
            cache["w"] = {k: v * v for k, v in d.items()}
        return cache["w"]

    def batch(it: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
        g = _w2().get
        for a, b in it:
            n = len(a)
            out = np.empty(n, dtype="float64")
            for i, (x, y) in enumerate(zip(a, b)):
                ta = set(x.split()) if isinstance(x, str) else set()
                tb = set(y.split()) if isinstance(y, str) else set()
                na = 0.0
                for t in ta:
                    na += g(t, d2)
                nb = 0.0
                for t in tb:
                    nb += g(t, d2)
                if len(tb) < len(ta):
                    ta, tb = tb, ta
                num = 0.0
                for t in ta:
                    if t in tb:
                        num += g(t, d2)
                out[i] = (
                    num / math.sqrt(na * nb) if na > 0.0 and nb > 0.0 else 0.0
                )
            yield pd.Series(out, dtype="float64")

    return F.pandas_udf(batch, T.DoubleType())


def _bounded(col: pd.Series, prefix: int | None) -> np.ndarray:
    s = col.fillna("")
    if prefix is not None:
        s = s.str.slice(0, prefix)
    return s.to_numpy(dtype=object)


def affine_gap_batch(
    a: pd.Series,
    b: pd.Series,
    match: float = 1.0,
    mismatch: float = 11.0,
    gap_open: float = 10.0,
    gap_extend: float = 7.0,
    abbreviation_scale: float = 0.125,
    prefix: int | None = PAIRWISE_PREFIX,
) -> np.ndarray:
    """Normalized affine-gap edit distance over a batch of string pairs
    — the reference String comparator's distance family
    (variables/string.py:4,66: affinegap.normalizedAffineGapDistance;
    default weights per that library's published interface). Full Gotoh
    three-state DP: each gap state may follow ANY state at its
    predecessor cell (gap-open cost when entering from match OR from
    the opposite gap direction, extend when continuing), so adjacent
    opposite-direction gaps price correctly under any weight choice.
    ``abbreviation_scale`` is the library's published abbreviation
    discount: gap costs for characters beyond the other string's length
    are scaled down (default 0.125), so 'acme corp' vs
    'acme corporation' pays 1/8th for the tail it cannot possibly
    match. Distances are normalized by mean length (identical strings
    score exactly ``match``). Pinned by an independent scalar DP with
    the same published recurrence (test_variable_features.py) — the
    reference's C library is not importable in this sandbox, so parity
    is to the published algorithm, not bit-for-bit to its binary.

    Vectorized across ROWS: the DP loops over character positions
    (L1 x L2 iterations bounded by the longest strings in the batch),
    but every cell update is a whole-batch numpy operation. Use on
    short fields (names, address lines) like the reference does.

    ``prefix`` (default PAIRWISE_PREFIX) truncates inputs before the
    DP — a DOCUMENTED deviation from the reference's unbounded
    affinegap: beyond the prefix two strings compare equal. Pass
    prefix=None for exact reference semantics at the caller's own
    memory risk (state is O(batch x longest string)).
    """
    s1, s2 = _bounded(a, prefix), _bounded(b, prefix)
    n = len(s1)
    if n == 0:
        return np.zeros(0)
    l1 = np.fromiter((len(x) for x in s1), dtype=np.int64, count=n)
    l2 = np.fromiter((len(x) for x in s2), dtype=np.int64, count=n)
    L1 = int(l1.max(initial=0))
    L2 = int(l2.max(initial=0))
    INF = np.inf
    oe = gap_open + gap_extend
    c1 = np.zeros((n, max(L1, 1)), dtype=np.int64)
    c2 = np.zeros((n, max(L2, 1)), dtype=np.int64)
    for i, s in enumerate(s1):
        if s:
            c1[i, : len(s)] = np.frombuffer(
                s.encode("utf-32-le"), dtype=np.uint32
            )
    for i, s in enumerate(s2):
        if s:
            c2[i, : len(s)] = np.frombuffer(
                s.encode("utf-32-le"), dtype=np.uint32
            )
    # current-row DP state, shape (n, L2+1); *fin buffers capture the
    # row i == l1[r] for each batch row r (strings end at different i)
    M = np.full((n, L2 + 1), INF)
    X = np.full((n, L2 + 1), INF)
    Y = np.full((n, L2 + 1), INF)
    M[:, 0] = 0.0
    # per-column gap-discount factors depend only on (j, l1): compute
    # the L2 length-n vectors once, not once per DP cell
    FX = [None] + [
        np.where(j > l1, abbreviation_scale, 1.0) for j in range(1, L2 + 1)
    ]
    # row 0: a single gap along b; char j of b is discounted once past
    # the end of a (it has nothing left to align against)
    for j in range(1, L2 + 1):
        fx = FX[j]
        X[:, j] = np.where(
            j == 1, M[:, 0] + oe * fx, X[:, j - 1] + gap_extend * fx
        )
    Mfin = np.full((n, L2 + 1), INF)
    Xfin = np.full((n, L2 + 1), INF)
    Yfin = np.full((n, L2 + 1), INF)
    done = l1 == 0
    Mfin[done] = M[done]
    Xfin[done] = X[done]
    Yfin[done] = Y[done]
    for i in range(1, L1 + 1):
        pM, pX, pY = M, X, Y
        M = np.full((n, L2 + 1), INF)
        X = np.full((n, L2 + 1), INF)
        Y = np.full((n, L2 + 1), INF)
        best_prev = np.minimum(np.minimum(pM, pX), pY)
        fy = np.where(i > l2, abbreviation_scale, 1.0)
        Y[:, 0] = np.minimum(
            pM[:, 0] + oe * fy, pY[:, 0] + gap_extend * fy
        )
        ci = c1[:, i - 1]
        for j in range(1, L2 + 1):
            fx = FX[j]
            sub = np.where(ci == c2[:, j - 1], match, mismatch)
            M[:, j] = sub + best_prev[:, j - 1]
            X[:, j] = np.minimum(
                np.minimum(M[:, j - 1], Y[:, j - 1]) + oe * fx,
                X[:, j - 1] + gap_extend * fx,
            )
            Y[:, j] = np.minimum(
                np.minimum(pM[:, j], pX[:, j]) + oe * fy,
                pY[:, j] + gap_extend * fy,
            )
        now = l1 == i
        if now.any():
            Mfin[now] = M[now]
            Xfin[now] = X[now]
            Yfin[now] = Y[now]
    r = np.arange(n)
    dist = np.minimum(
        np.minimum(Mfin[r, l2], Xfin[r, l2]), Yfin[r, l2]
    )
    denom = np.maximum((l1 + l2) / 2.0, 1.0)
    out = np.where(np.isfinite(dist), dist, 0.0) / denom
    out[(l1 == 0) & (l2 == 0)] = 0.0
    return out


def affine_gap_udf(**weights):
    """Arrow-batched pandas UDF over ``affine_gap_batch``."""

    def batch(it: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
        for a, b in it:
            yield pd.Series(affine_gap_batch(a, b, **weights), dtype="float64")

    return F.pandas_udf(batch, T.DoubleType())
