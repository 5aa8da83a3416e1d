"""Round-2 operators: ported reference clustering fixtures
(dedupe/tests/test_dedupe.py:100-231), carry-forward, set-element
predicates, edit-distance blocking, TF-IDF text comparator.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from ny_campaign_finance_dedupe_spark.functions import keygen
from ny_campaign_finance_dedupe_spark.operators import (
    clustering,
    dedup,
    linkage,
    refine,
    scoring,
)


def _clusters(rows):
    """(record_id, cluster_id) rows -> set of frozenset memberships>1."""
    by = {}
    for r in rows:
        by.setdefault(r["cluster_id"], set()).add(r["record_id"])
    return {frozenset(v) for v in by.values() if len(v) > 1}


# --- ported reference fixtures ---------------------------------------------

STAR_DUPES = [
    (1, 2, 0.86), (1, 3, 0.72), (1, 4, 0.2), (1, 5, 0.6), (2, 3, 0.86),
    (2, 4, 0.2), (2, 5, 0.72), (3, 4, 0.3), (3, 5, 0.5), (4, 5, 0.72),
    (10, 11, 0.9),
]

BIPARTITE_DUPES = [
    (1, 5, 0.1), (1, 6, 0.72), (1, 7, 0.2), (1, 8, 0.6), (2, 5, 0.2),
    (2, 6, 0.2), (2, 7, 0.72), (2, 8, 0.3), (3, 5, 0.24), (3, 6, 0.72),
    (3, 7, 0.24), (3, 8, 0.65), (4, 5, 0.63), (4, 6, 0.96), (4, 7, 0.23),
    (5, 8, 0.24),
]


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src long, dst long, score double")


def test_hac_reference_fixture(spark):
    """dedupe/tests/test_dedupe.py:163-190 (test_hierarchical): the star
    network cut at 0.5 gives {1,2,3} {4,5} {10,11}; at 0 everything in a
    component merges; at 1 nothing does."""
    edges = _edges(spark, STAR_DUPES)
    comp = clustering.connected_components(edges.select("src", "dst"))
    for thr, expected in [
        (0.5, {frozenset({1, 2, 3}), frozenset({4, 5}), frozenset({10, 11})}),
        (0.0, {frozenset({1, 2, 3, 4, 5}), frozenset({10, 11})}),
        (1.0, set()),
    ]:
        out = refine.hac_refine(edges, comp, threshold=thr).collect()
        assert _clusters(out) == expected, thr


def test_hac_single_linkage_equals_cc(spark):
    """Single linkage cut at threshold == CC of the >=threshold subgraph
    (the property the hac_refine driver oracle relies on)."""
    edges = _edges(spark, STAR_DUPES)
    comp = clustering.connected_components(edges.select("src", "dst"))
    out = refine.hac_refine(
        edges, comp, threshold=0.7, linkage="single"
    ).collect()
    strong = edges.where(F.col("score") >= 0.7)
    cc = clustering.connected_components(strong.select("src", "dst"))
    expect = _clusters(cc.collect())
    assert _clusters(out) == expect
    # {1,2,3,5} via 0.72 chain; {4,5}? 4-5 is 0.72 -> all of 1,2,3,4,5
    assert frozenset({1, 2, 3, 4, 5}) in _clusters(out)


def test_greedy_matching_reference_fixture(spark):
    """dedupe/tests/test_dedupe.py:196-206 (test_greedy_matching)."""
    scored = _edges(spark, BIPARTITE_DUPES)
    got = {
        (r["src"], r["dst"])
        for r in linkage.greedy_one_to_one(scored, threshold=0.0).collect()
    }
    assert got == {(4, 6), (2, 7), (3, 8), (1, 5)}


def test_gazetteer_reference_fixture(spark):
    """dedupe/tests/test_dedupe.py:208-231 (test_gazette_matching)."""
    scored = _edges(spark, BIPARTITE_DUPES)
    out = linkage.gazetteer_topk(scored, n_matches=2, threshold=0.0).collect()
    got = {(r["src"], r["dst"], r["rank"]) for r in out}
    assert got == {
        (1, 6, 1), (1, 8, 2), (2, 7, 1), (2, 8, 2), (3, 6, 1), (3, 8, 2),
        (4, 6, 1), (4, 5, 2), (5, 8, 1),
    }


# --- carry-forward ----------------------------------------------------------

def test_carry_forward_cluster_ids(spark):
    prev = spark.createDataFrame(
        [(1, 100), (2, 100), (3, 100), (4, 200), (5, 200)],
        "record_id long, cluster_id long",
    )
    # run N+1 splits prev-100 into {1,2} and {3}; {4,5} stable; 6 is new
    cur = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3), (4, 4), (5, 4), (6, 6)],
        "record_id long, cluster_id long",
    )
    out = {
        r["record_id"]: r["cluster_id"]
        for r in clustering.carry_forward_cluster_ids(prev, cur).collect()
    }
    # larger fragment {1,2} wins id 100; loser {3} keeps its new id
    assert out[1] == out[2] == 100
    assert out[3] == 3
    assert out[4] == out[5] == 200
    assert out[6] == 6


def test_carry_forward_split_anchor_collision(spark):
    # prev cluster anchored at record 1 splits; the anchor lands in the
    # LOSING fragment, whose fallback id (1) equals the prev_id the
    # winner adopts — must be remapped, not silently merged
    prev = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], "record_id long, cluster_id long"
    )
    cur = spark.createDataFrame(
        [(1, 1), (9, 1), (2, 2), (3, 2)], "record_id long, cluster_id long"
    )
    out = {
        r["record_id"]: r["cluster_id"]
        for r in clustering.carry_forward_cluster_ids(prev, cur).collect()
    }
    # {2,3} (overlap 2) wins prev id 1; loser {1,9} may NOT keep id 1 —
    # it takes its smallest unclaimed member id (9)
    assert out[2] == out[3] == 1
    assert out[1] == out[9] == 9
    assert len({out[1], out[2]}) == 2


def test_carry_forward_all_members_claimed(spark):
    # degenerate corner: every member of the losing cluster is an anchor
    # claimed by some winner -> negative fresh id, distinct from all
    prev = spark.createDataFrame(
        [(1, 1), (5, 1), (6, 1), (2, 2), (7, 2), (8, 2)],
        "record_id long, cluster_id long",
    )
    cur = spark.createDataFrame(
        [(1, 1), (2, 1), (5, 5), (6, 5), (7, 7), (8, 7)],
        "record_id long, cluster_id long",
    )
    out = {
        r["record_id"]: r["cluster_id"]
        for r in clustering.carry_forward_cluster_ids(prev, cur).collect()
    }
    # {5,6} wins prev 1, {7,8} wins prev 2; loser {1,2} has both members
    # claimed and its own id claimed -> fresh -(cluster_id+1) = -2
    assert out[5] == out[6] == 1
    assert out[7] == out[8] == 2
    assert out[1] == out[2] == -2
    assert len({out[1], out[5], out[7]}) == 3


def test_carry_forward_zero_id_fallback_stays_distinct(spark):
    # record ids are non-negative, so id 0 is legal; a loser anchored at
    # 0 whose every member is claimed must NOT fall back to -0 == 0
    # (that would silently merge it with the winner adopting prev_id 0)
    prev = spark.createDataFrame(
        [(0, 0), (5, 0), (6, 0)], "record_id long, cluster_id long"
    )
    cur = spark.createDataFrame(
        [(0, 0), (5, 0), (6, 6)], "record_id long, cluster_id long"
    )
    out = {
        r["record_id"]: r["cluster_id"]
        for r in clustering.carry_forward_cluster_ids(prev, cur).collect()
    }
    # {0,5} (overlap 2) wins prev id 0; loser {6} falls back to its own
    # unclaimed member id 6 — and in the fully-claimed variant below,
    # to a strictly negative id, never 0
    assert out[0] == out[5] == 0
    assert out[6] == 6
    # fully-claimed variant: prev {0,1,2} splits into cur {0} and
    # {1,2}; {1,2} (overlap 2) wins prev id 0, the loser {0} has its
    # only member id claimed -> fresh id -(0+1) = -1, NOT -0 == 0
    prev2 = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0)], "record_id long, cluster_id long"
    )
    cur2 = spark.createDataFrame(
        [(0, 0), (1, 1), (2, 1)], "record_id long, cluster_id long"
    )
    out2 = {
        r["record_id"]: r["cluster_id"]
        for r in clustering.carry_forward_cluster_ids(prev2, cur2).collect()
    }
    assert out2[1] == out2[2] == 0
    assert out2[0] == -1  # the -0 bug merged this into cluster 0


def test_carry_forward_chained_negative_prev_ids(spark):
    """Chained carry-forwards: a prior generation's fallback minted a
    negative cluster id (-2) which this generation's winner adopts; a
    new fully-claimed loser with cluster_id 1 must NOT mint -(1+1) = -2
    again — fresh ids are drawn below min(0, min(prev id))."""
    prev = spark.createDataFrame(
        [(10, -2), (11, -2), (1, 1), (2, 1), (3, 1)],
        "record_id long, cluster_id long",
    )
    cur = spark.createDataFrame(
        [(10, 10), (11, 10), (1, 1), (2, 2), (3, 2)],
        "record_id long, cluster_id long",
    )
    out = {
        r["record_id"]: r["cluster_id"]
        for r in clustering.carry_forward_cluster_ids(prev, cur).collect()
    }
    # {10,11} adopts -2; {2,3} (overlap 2) wins prev 1; loser {1} is
    # fully claimed -> fresh id = min(0,-2) - 1 - 1 = -4, distinct
    assert out[10] == out[11] == -2
    assert out[2] == out[3] == 1
    assert out[1] == -4
    assert len({out[1], out[2], out[10]}) == 3


# --- set-element predicates -------------------------------------------------

def test_common_two_three_elements(spark):
    df = spark.createDataFrame([(["c", "a", "b", "d"],)], "v array<string>")
    two = df.select(keygen.common_two_elements("v").alias("k")).collect()[0]["k"]
    assert two == ["a b", "b c", "c d"]
    three = df.select(keygen.common_three_elements("v").alias("k")).collect()[0]["k"]
    assert three == ["a b c", "b c d"]
    # singleton set -> no 2-grams
    one = spark.createDataFrame([(["x"],)], "v array<string>")
    assert one.select(keygen.common_two_elements("v").alias("k")).collect()[0]["k"] == []


# --- edit-distance blocking -------------------------------------------------

def test_edit_distance_pairs_total_recall(spark):
    rows = [
        (1, "acme corporation"),      # vs 2: substitution at pos 3
        (2, "acne corporation"),
        (3, "acme corporatio"),       # same 12-char prefix as 1
        (4, "zzme corporation"),      # distance 2 from 1 in prefix
        (5, "completely different"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["src"], r["dst"])
        for r in dedup.edit_distance_pairs(df, "doc_id", "text").collect()
    }
    assert (1, 2) in got and (1, 3) in got and (2, 3) in got
    assert all(4 not in p and 5 not in p for p in got)


def test_deletion_variants_cover_distance_one(spark):
    df = spark.createDataFrame([("abcd",), ("abxd",)], "v string")
    ks = [
        set(r["k"])
        for r in df.select(keygen.deletion_variants("v", 12).alias("k")).collect()
    ]
    assert ks[0] & ks[1]  # substitution still shares a deletion variant


def test_edit_distance_pairs_single_char_keys(spark):
    # two distinct 1-char texts are distance 1 via substitution; the
    # empty-string deletion variant must co-block them (ADVICE r02)
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a")], "doc_id long, text string"
    )
    got = {
        (r["src"], r["dst"])
        for r in dedup.edit_distance_pairs(df, "doc_id", "text").collect()
    }
    assert got == {(1, 2), (1, 3), (2, 3)}


def test_ngram_df_cap_drops_hot_shingle(spark):
    """Skew guard (VERDICT r01 #4): one boilerplate trigram shared by
    every doc must not produce df^2 join rows — the cap stop-words it."""
    rows = [(i, f"common hot gram unique{i} tail{i}") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = dedup.ngram_jaccard_pairs(
        df, "doc_id", "text", n=3, threshold=0.1, df_cap=10
    )
    assert capped.count() == 0
    uncapped = dedup.ngram_jaccard_pairs(
        df, "doc_id", "text", n=3, threshold=0.1, df_cap=None
    )
    assert uncapped.count() == 300 * 299 // 2  # the blow-up the cap stops


# --- TF-IDF text comparator -------------------------------------------------

def test_tfidf_beats_token_set_cosine(spark):
    # corpus: 'the' and 'of' are ubiquitous; rare terms discriminate
    corpus = spark.createDataFrame(
        [(i, f"the of filler{i} words{i}") for i in range(40)]
        + [(100, "the of alpha"), (101, "the of beta"),
           (102, "uniqueterm anotherrare x"), (103, "uniqueterm anotherrare y")],
        "doc_id long, text string",
    )
    idf = scoring.compute_idf(corpus, "text")
    pairs = spark.createDataFrame(
        [("the of alpha", "the of beta"),
         ("uniqueterm anotherrare x", "uniqueterm anotherrare y")],
        "text_a string, text_b string",
    )
    spec = [{"field": "text", "type": "Text"}]
    tf = scoring.with_variable_features(pairs, spec, idf=idf).collect()
    plain = scoring.with_variable_features(pairs, spec).collect()
    tf_common, tf_rare = tf[0]["text"], tf[1]["text"]
    pl_common, pl_rare = plain[0]["text"], plain[1]["text"]
    # stopword-only overlap: tf-idf discounts it far below the rare pair
    assert tf_rare > tf_common
    assert tf_rare - tf_common > (pl_rare - pl_common)
    assert tf_common < 0.35  # 'the of' overlap is nearly worthless


def test_active_learning_improves_model(spark):
    """T3: uncertainty sampling with a programmatic oracle must push the
    decision boundary toward the true rule (f_jaccard > 0.55) that the
    weak seed labels underdetermine."""
    from ny_campaign_finance_dedupe_spark.plans import training

    rows = []
    for i in range(200):
        j = (i % 100) / 100.0
        rows.append((i, i + 1000, 0.0, j, 0.0, 0.5, 0.0))
    pairs = spark.createDataFrame(
        rows, "src long, dst long, f_cosine double, f_jaccard double,"
        " f_lev double, f_len double, f_missing double"
    )
    truth = lambda r: 1.0 if r["f_jaccard"] > 0.55 else 0.0
    # seed: only the easy extremes
    seed = spark.createDataFrame(
        [(0.0, 0.05, 0.0, 0.5, 0.0, 0.0), (0.0, 0.95, 0.0, 0.5, 0.0, 1.0)],
        "f_cosine double, f_jaccard double, f_lev double, f_len double,"
        " f_missing double, label double",
    )
    model, labeled = training.active_learn(
        pairs, lambda rs: [truth(r) for r in rs], seed,
        rounds=4, batch_size=12,
    )
    from ny_campaign_finance_dedupe_spark.operators import scoring

    scored = scoring.score_pairs(pairs, model)
    got = scored.select(
        "f_jaccard", (F.col("score") >= 0.5).cast("int").alias("pred")
    ).collect()
    acc = sum(
        1 for r in got if r["pred"] == (1 if r["f_jaccard"] > 0.55 else 0)
    ) / len(got)
    assert acc >= 0.9, acc
    # the sampler concentrated labels near the boundary
    near = labeled.where(
        (F.col("f_jaccard") > 0.35) & (F.col("f_jaccard") < 0.75)
    ).count()
    assert near >= 20


def test_canonicalize_udf_matches_fold(spark):
    """The Arrow-UDF canonicalization (pipeline form) must be
    byte-identical to the Catalyst fold (oracle-parity form)."""
    from ny_campaign_finance_dedupe_spark.functions import normalize

    rows = [
        ("123 main st apt 4",), ("main street at st marks",),
        ("p o box 99 nyc",), ("nys thruway exit 23 hwy",),
        ("nothing to do here",), (None,), ("plc pl plaza plz",),
    ]
    df = spark.createDataFrame(rows, "v string")
    nt = normalize.normalize_text(F.col("v"))
    both = df.select(
        normalize.canonicalize_udf()(nt).alias("u"),
        normalize.expand_org_names(normalize.canonicalize_abbrev(nt)).alias(
            "c"
        ),
    ).collect()
    for r in both:
        assert r["u"] == r["c"], (r["u"], r["c"])


def test_random_pair_sample_deterministic(spark):
    """T1: seeded sampling is reproducible and roughly proportional."""
    from ny_campaign_finance_dedupe_spark.plans import training

    pairs = spark.range(2000).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    a = training.random_pair_sample(pairs, 0.1, seed=7).collect()
    b = training.random_pair_sample(pairs, 0.1, seed=7).collect()
    assert a == b
    assert 100 < len(a) < 320


def test_blocking_map_unique_keys(spark):
    """build_blocking_map's no-dedup invariant: every keygen generator
    emits per-record-distinct keys, and name prefixes separate
    predicates, so (block_key, record_id) is unique by construction."""
    from ny_campaign_finance_dedupe_spark.operators import blocking

    df = spark.createDataFrame(
        [(1, "the the quick quick brown brown fox"), (2, "a a a b b c")],
        "doc_id long, text string",
    )
    bm = blocking.build_blocking_map(
        df,
        "doc_id",
        {
            "tok": keygen.tokens(F.col("text")),
            "w2": keygen.word_ngrams(F.col("text"), 2),
            "fp": keygen.fingerprint(F.col("text")),
            "ph": keygen.phonetic_tokens(F.col("text")),
        },
    )
    assert bm.count() == bm.dropDuplicates(["block_key", "record_id"]).count()


# --- real media decoders ----------------------------------------------------

def _bmp_bytes(w, h, rgb):
    """Minimal 24-bit BMP writer (test fixture)."""
    import struct

    stride = (w * 3 + 3) & ~3
    img = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        row = bytearray()
        for x in range(w):
            r, g, b = rgb(x, y)
            row += bytes((b, g, r))
        row += b"\x00" * (stride - len(row))
        img += row
    off = 14 + 40
    size = off + len(img)
    hdr = b"BM" + struct.pack("<IHHI", size, 0, 0, off)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(img), 0, 0, 0, 0)
    return bytes(hdr + dib + img)


def _wav_bytes(samples, rate=8000):
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(b"".join(struct.pack("<h", s) for s in samples))
    return buf.getvalue()


def test_real_bmp_decode_features(spark):
    from ny_campaign_finance_dedupe_spark.operators import multimodal

    payload = _bmp_bytes(4, 2, lambda x, y: (255, 0, 0))  # all red
    img = multimodal.decode_bmp(payload)
    assert img.shape == (2, 4, 3)
    assert (img[..., 0] == 255).all() and (img[..., 1] == 0).all()
    rows = [("b1", payload, "image/bmp", None, None)]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    feats = multimodal.extract_media_features(df, use_fake=False).collect()[0][
        "features"
    ]
    assert feats[0] == 4.0 and feats[1] == 2.0 and feats[2] == 3.0
    assert feats[5] == 255.0  # mean of R channel


def test_real_ppm_and_resize():
    from ny_campaign_finance_dedupe_spark.operators import multimodal

    payload = b"P6\n4 2\n255\n" + bytes([10, 20, 30] * 8)
    img = multimodal.decode_ppm(payload)
    assert img.shape == (2, 4, 3) and img[0, 0, 2] == 30
    small = multimodal.resize_nearest(img, 2, 1)
    assert small.shape == (1, 2, 3)
    # spec-valid: '#' comments may appear before ANY header token, and
    # tokens may be split across lines
    commented = (
        b"P6\n# scanner model X\n4\n# width above, height next\n2 # inline\n"
        b"255\n" + bytes([10, 20, 30] * 8)
    )
    img2 = multimodal.decode_ppm(commented)
    assert (img2 == img).all()
    import pytest as _pytest

    with _pytest.raises(ValueError):
        multimodal.decode_ppm(b"P6garbage")
    with _pytest.raises(ValueError):
        multimodal.decode_ppm(b"JUNK")


def test_real_wav_decode_and_windowing(spark):
    from ny_campaign_finance_dedupe_spark.operators import multimodal

    payload = _wav_bytes([0, 16384, -16384, 0] * 1024, rate=8000)
    samples, rate = multimodal.decode_wav(payload)
    assert rate == 8000 and samples.shape == (4096, 1)
    rows = [("w1", payload, "audio/wav", None, None)]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    feats = multimodal.extract_media_features(df, use_fake=False).collect()[0][
        "features"
    ]
    assert feats[0] == 4096.0 and feats[1] == 8000.0
    assert 0.3 < feats[4] < 0.4  # rms of the square-ish wave
    frames = multimodal.frame_sample_plan(df, every_n=2).collect()
    assert len(frames) == 2  # 4 windows of 1024, every 2nd
    assert len(bytes(frames[0]["frame_payload"])) == 1024 * 4  # float32


def test_unsupported_mime_raises(spark):
    from ny_campaign_finance_dedupe_spark.operators import multimodal

    rows = [("j1", b"\xff\xd8\xff", "image/jpeg", None, None)]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    with pytest.raises(Exception, match="NotImplementedError|no pure-python"):
        multimodal.extract_media_features(df, use_fake=False).collect()


def test_decodable_mimes_route_real_by_default(spark):
    """VERDICT r02 #8: BMP/WAV payloads go through the REAL decoder even
    under the default use_fake=True — the fake path only covers mimes
    without a pure-Python decoder (here text/plain payload stats)."""
    from ny_campaign_finance_dedupe_spark.operators import multimodal

    bmp = _bmp_bytes(4, 2, lambda x, y: (255, 0, 0))
    rows = [
        ("b1", bmp, "image/bmp", None, None),
        ("t1", b"hello world", "text/plain", None, None),
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    out = {
        r["media_id"]: r["features"]
        for r in multimodal.extract_media_features(df).collect()
    }
    # real image stats: width, height, channels, then mean-R 255
    assert out["b1"][0] == 4.0 and out["b1"][1] == 2.0
    assert out["b1"][5] == 255.0
    # fake payload stats (oracle contract) for the undecodable mime
    assert out["t1"][0] == float(len(b"hello world"))
    assert out["t1"][1] == 1.0  # one space byte


def test_hac_centroid_reference_fixture(spark):
    """linkage='centroid' is the reference's EXACT fastcluster method
    (dedupe/clustering.py:217-218); the star fixture expectations are
    the reference's test_hierarchical (test_dedupe.py:163-190)."""
    from ny_campaign_finance_dedupe_spark.operators import refine

    edges = _edges(spark, STAR_DUPES)
    comp = clustering.connected_components(edges.select("src", "dst"))
    for thr, expected in [
        (0.5, {frozenset({1, 2, 3}), frozenset({4, 5}),
               frozenset({10, 11})}),
        (0.0, {frozenset({1, 2, 3, 4, 5}), frozenset({10, 11})}),
        (1.0, set()),
    ]:
        out = refine.hac_refine(
            edges, comp, threshold=thr, linkage="centroid"
        ).collect()
        assert _clusters(out) == expected, thr
