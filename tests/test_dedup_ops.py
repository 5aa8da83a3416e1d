"""Dedup family + ANN + textstats operator tests (golden expectations)."""

import pyspark.sql.functions as F
import pytest

from ny_campaign_finance_dedupe_spark.functions import textstats
from ny_campaign_finance_dedupe_spark.operators import ann, dedup, multimodal


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta theta"),  # exact dup of 1
        (3, "alpha beta gamma delta epsilon zeta eta iota"),  # near dup of 1
        (4, "totally different words about spark and the catalyst engine"),
        (5, None),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _executed_plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_exact_duplicates(docs):
    out = {
        r["record_id"]: (r["cluster_id"], r["cluster_size"])
        for r in dedup.exact_duplicates(docs, "doc_id", "text").collect()
    }
    assert out[1] == (1, 2) and out[2] == (1, 2)
    assert out[3][1] == 1 and out[4][1] == 1
    # NULL payloads are not dropped by the hydration join: they keep
    # their rows and group together (SQL GROUP BY null semantics)
    assert out[5] == (5, 1)
    assert len(out) == 5


def test_exact_duplicates_no_member_array(spark):
    """Scale shape (VERDICT r02 #2): a degenerate exact-dup cluster
    (every boilerplate page identical) must not materialize a per-group
    member array in one task — the optimized plan must contain no
    collect_list, only (min, count) agg + hydration join."""
    rows = [(i, "boilerplate") for i in range(200)] + [(1000, "unique")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.exact_duplicates(df, "doc_id", "text")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "collect_list" not in plan
    got = {r["record_id"]: (r["cluster_id"], r["cluster_size"])
           for r in out.collect()}
    assert got[0] == (0, 200) and got[199] == (0, 200)
    assert got[1000] == (1000, 1)


def test_exact_duplicates_never_caches(spark):
    """The (record_id, key) projection is never persisted, whatever the
    input's size: a source Catalyst estimates at gigabytes gets no cache
    and no dependency for dedup.release. The frame is only planned,
    never run."""
    big = spark.range(10**9).select(
        F.col("id").alias("doc_id"), F.lit("page").alias("text")
    )
    out = dedup.exact_duplicates(big, "doc_id", "text")
    assert not getattr(out, "_persisted_deps", [])
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" not in plan


def test_ngram_jaccard_pairs(docs):
    got = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5).collect()
    pairs = {(r["src"], r["dst"]): r["jaccard"] for r in got}
    assert pairs[(1, 2)] == 1.0
    # docs 1 and 3 share 5 of their 6 trigrams -> J = 5/7
    assert abs(pairs[(1, 3)] - 5 / 7) < 1e-12
    assert (1, 4) not in pairs and (3, 4) not in pairs


def test_ngram_jaccard_df_cap_drops_hot_shingles(spark):
    # 4 docs all sharing one hot trigram; cap=2 kills that join key
    rows = [(i, "common shared gram x%d y%d z%d" % (i, i, i)) for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    full = dedup.ngram_jaccard_pairs(df, "doc_id", "text", 3, 0.0)
    capped = dedup.ngram_jaccard_pairs(df, "doc_id", "text", 3, 0.0, df_cap=2)
    assert capped.count() < full.count()


def test_default_df_cap_abs_ceiling():
    """The 5% arm is capped at ABS_DF_CAP (VERDICT r03 #1): at web scale
    5% of N is itself unbounded and the shingle join's sum(df^2) goes
    quadratic; the absolute ceiling keeps total candidate pairs at
    O(N * ABS_DF_CAP) for any corpus size."""
    assert dedup.default_df_cap(10_000) == 1000          # floor binds
    assert dedup.default_df_cap(40_000) == 2000          # 5% arm binds
    assert dedup.default_df_cap(100_000) == 5000         # boundary
    assert dedup.default_df_cap(1_000_000) == 5000       # ceiling binds
    assert dedup.default_df_cap(10**11) == dedup.ABS_DF_CAP
    assert dedup.default_df_cap(10**11, abs_cap=2000) == 2000


def test_ngram_jaccard_planted_boilerplate_bounded(spark):
    """Planted-boilerplate skew: one shingle appears in 50% of a 200-doc
    corpus (think a site template at Common-Crawl scale). With the capped
    rule (abs_cap below the hot shingle's df) the hot shingle must be
    dropped from the join, so candidate-pair count stays bounded by the
    genuinely-shared content instead of ~(0.5N)^2 from the template."""
    hot = "all rights reserved"
    rows = []
    for i in range(100):  # 100 docs carrying the template shingle
        rows.append((i, f"{hot} page {i} unique body text w{i} x{i} y{i}"))
    for i in range(100, 200):  # 100 docs without it
        rows.append((i, f"other page {i} unique body text w{i} x{i} y{i}"))
    # one genuine near-dup pair sharing real content
    rows.append((500, "shared real content alpha beta gamma delta"))
    rows.append((501, "shared real content alpha beta gamma delta"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    n = df.count()
    cap = dedup.default_df_cap(n, abs_cap=50)  # df(hot shingle)=100 > cap
    got = dedup.ngram_jaccard_pairs(
        df, "doc_id", "text", n=3, threshold=0.0, df_cap=cap
    ).collect()
    pairs = {(r["src"], r["dst"]) for r in got}
    assert (500, 501) in pairs  # real dup survives the cap
    # without the cap the template shingle alone yields C(100,2)=4950
    # pairs; with it, candidates are bounded well below that
    assert len(pairs) < 1000
    # and specifically: no pair exists whose only link is the template
    assert (0, 1) not in pairs


def test_minhash_candidates_find_near_dups(docs):
    got = dedup.minhash_candidate_pairs(
        docs, "doc_id", "text", est_threshold=0.5
    ).collect()
    found = {(r["src"], r["dst"]) for r in got}
    assert (1, 2) in found and (1, 3) in found
    assert all(4 not in p for p in found)
    est = {(r["src"], r["dst"]): r["est_jaccard"] for r in got}
    assert est[(1, 2)] == 1.0


def test_simhash_near_pairs(docs):
    got = dedup.simhash_near_pairs(docs, "doc_id", "text", max_hamming=8).collect()
    found = {(r["src"], r["dst"]): r["hamming"] for r in got}
    assert found[(1, 2)] == 0
    assert all(4 not in p for p in found)


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # close to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.95, 0.05]),  # close to 2
        (4, [-1.0, 0.0, 0.0]),   # opposite of 0
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk(vecs):
    out = ann.brute_force_topk(vecs, vecs, k=1).collect()
    top = {r["query_id"]: r["neighbor_id"] for r in out}
    assert top[0] == 1 and top[1] == 0
    assert top[2] == 3 and top[3] == 2
    for r in out:
        assert r["query_id"] != r["neighbor_id"]


def test_cosine_neardup_pairs(vecs):
    got = ann.cosine_neardup_pairs(vecs, threshold=0.9).collect()
    found = {(r["src"], r["dst"]) for r in got}
    assert found == {(0, 1), (2, 3)}


def test_lsh_topk_matches_brute_force_for_close_pairs(spark):
    import numpy as np

    rng = np.random.default_rng(5)
    base = rng.standard_normal((20, 16)).astype("float32")
    rows = []
    for i in range(20):
        rows.append((i, base[i].tolist()))
        rows.append((100 + i, (base[i] + rng.standard_normal(16) * 0.01).astype("float32").tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = ann.lsh_topk(df, df, dim=16, k=1, bands=8, bits=6)
    top = {r["query_id"]: r["neighbor_id"] for r in out.collect()}
    hits = sum(1 for i in range(20) if top.get(i) == 100 + i)
    assert hits >= 18  # high recall on planted twins


def _walk_plan(node):
    yield node
    ch = node.children()
    for i in range(ch.size()):
        yield from _walk_plan(ch.apply(i))


def _bucket_join_outputs(df, key="bucket"):
    """Output (name, type) of every optimized-plan Join carrying the LSH
    bucket key column ``key``."""
    found = []
    for n in _walk_plan(df._jdf.queryExecution().optimizedPlan()):
        if n.nodeName() == "Join":
            o = n.output()
            names = {
                o.apply(i).name(): o.apply(i).dataType().simpleString()
                for i in range(o.size())
            }
            if key in names:
                found.append(names)
    return found


def test_lsh_candidate_shuffles_are_ids_only(spark, vecs):
    """Scale shape (VERDICT r02 #3): the bucket equi-join must exchange
    (id, bucket) rows only — embeddings re-join AFTER dropDuplicates, so
    a vector never rides the shuffle once per band collision."""
    out = ann.lsh_topk(vecs, vecs, dim=3, k=2, bands=4, bits=4)
    joins = _bucket_join_outputs(out)
    assert joins, "expected a bucket equi-join in the plan"
    for names in joins:
        assert not any(t.startswith("array") for t in names.values()), names

    # the near-dup path runs pairs.banded_pairs, whose key column is the
    # blocking map's block_key
    nd = ann.cosine_neardup_bucketed(vecs, dim=3, bands=4, bits=4)
    joins = _bucket_join_outputs(nd, key="block_key")
    assert joins
    for names in joins:
        assert not any(t.startswith("array") for t in names.values()), names


def test_ann_empty_inputs(spark, vecs):
    empty = vecs.limit(0)
    assert ann.brute_force_topk(empty, vecs, k=2).count() == 0
    assert ann.brute_force_topk(vecs, empty, k=2).count() == 0
    assert ann.cosine_neardup_pairs(empty, threshold=0.9).count() == 0


def test_gemm_tiling_matches_untiled(spark, monkeypatch):
    # force multi-tile GEMMs (tile width floors at 64 columns) on a
    # >64-vector corpus; results must be identical to the one-tile plan
    import numpy as np

    rng = np.random.default_rng(7)
    rows = [(i, rng.standard_normal(8).tolist()) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    base_nd = {
        (r["src"], r["dst"], round(r["cosine"], 12))
        for r in ann.cosine_neardup_pairs(df, threshold=0.5).collect()
    }
    base_tk = {
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in ann.brute_force_topk(df.limit(20), df, k=3).collect()
    }
    monkeypatch.setattr(ann, "GEMM_TILE_ELEMS", 1)  # tile = 64 cols
    tiled_nd = {
        (r["src"], r["dst"], round(r["cosine"], 12))
        for r in ann.cosine_neardup_pairs(df, threshold=0.5).collect()
    }
    tiled_tk = {
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in ann.brute_force_topk(df.limit(20), df, k=3).collect()
    }
    assert base_nd == tiled_nd and len(base_nd) > 0
    assert base_tk == tiled_tk and len(base_tk) == 60


@pytest.fixture(scope="module")
def blob_vecs(spark):
    """4 well-separated unit blobs, 10 vectors each; ids 0-3 are one seed
    per blob (so nlist=4 seed centroids land one per blob), ids i and
    100+i are planted twins."""
    import numpy as np

    rng = np.random.default_rng(11)
    centers = np.eye(4, 16) + rng.standard_normal((4, 16)) * 0.05
    rows = []
    for i in range(20):
        v = centers[i % 4] + rng.standard_normal(16) * 0.02
        rows.append((i, v.astype("float32").tolist()))
        rows.append(
            (100 + i, (v + rng.standard_normal(16) * 0.005).astype("float32").tolist())
        )
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_ivf_topk_full_probe_matches_brute_force(blob_vecs):
    """nprobe == nlist degenerates IVF to exact search: every list is
    probed, so output must equal brute_force_topk bit-for-bit."""
    q = blob_vecs.where("vec_id < 8")
    ivf = {
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in ann.ivf_topk(
            q, blob_vecs, k=3, nlist=4, nprobe=4, round_decimals=9
        ).collect()
    }
    bf = {
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in ann.brute_force_topk(q, blob_vecs, k=3, round_decimals=9).collect()
    }
    assert ivf == bf and len(bf) == 24


def test_ivf_topk_single_probe_finds_planted_twins(blob_vecs):
    """With one seed per blob and nprobe=1, each query's twin lives in
    the probed list, so recall@1 on planted twins is total."""
    q = blob_vecs.where("vec_id < 20")
    out = ann.ivf_topk(q, blob_vecs, k=1, nlist=4, nprobe=1)
    top = {r["query_id"]: r["neighbor_id"] for r in out.collect()}
    assert all(top[i] == 100 + i for i in range(20))


def test_ivf_prebuilt_assignment_reused(blob_vecs):
    """The build/probe split: a prebuilt inverted file passed back via
    corpus_assignment must give the identical result (what a 100 TB
    deployment checkpoints between searches)."""
    q = blob_vecs.where("vec_id < 8")
    c_ids, c_mat = ann.seed_centroids(blob_vecs, nlist=4)
    bc = blob_vecs.sparkSession.sparkContext.broadcast((c_ids, c_mat))
    prebuilt = ann._ivf_assign(
        blob_vecs, bc, "vec_id", "embedding", "neighbor_id", 1, 9,
        blob_vecs.schema["vec_id"].dataType,
    )
    a = {
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in ann.ivf_topk(
            q, blob_vecs, k=3, nlist=4, nprobe=2, round_decimals=9,
            corpus_assignment=prebuilt,
        ).collect()
    }
    b = {
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in ann.ivf_topk(
            q, blob_vecs, k=3, nlist=4, nprobe=2, round_decimals=9
        ).collect()
    }
    assert a == b and len(a) == 24


def test_semantic_dedup_groups_planted_blobs(blob_vecs):
    """At eps below the intra-blob cosine every blob collapses into ONE
    semantic group of 10 (5 members + 5 twins): 4 keepers, 36 dups, and
    with keep='min_id' each keeper is the group's smallest id (the blob
    seeds 0-3)."""
    out = ann.semantic_dedup(
        blob_vecs, eps=0.95, nlist=4, round_decimals=9, keep="min_id"
    ).collect()
    assert len(out) == 40
    keepers = {r["keeper_id"] for r in out}
    assert keepers == {0, 1, 2, 3}
    assert sum(r["is_dup"] for r in out) == 36
    for r in out:
        assert r["is_dup"] == (r["record_id"] != r["keeper_id"])


def test_semantic_dedup_centroid_far_keeper(blob_vecs):
    """keep='centroid_far' (the SemDeDup paper rule) must pick, per
    group, the member with the LOWEST cosine to its list centroid —
    recomputed here independently with numpy over the seed quantizer."""
    import numpy as np

    rows = sorted(blob_vecs.collect(), key=lambda r: r["vec_id"])
    ids = np.array([r["vec_id"] for r in rows])
    m = np.vstack([np.asarray(r["embedding"], np.float64) for r in rows])
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    cm = m[ids.argsort()[: 4]]  # seeds = 4 lowest ids (already sorted)
    sims = np.round(m @ cm.T, 9)
    best_list = np.argmax(sims, axis=1)  # unique argmax in this fixture
    csim = sims[np.arange(len(ids)), best_list]
    out = ann.semantic_dedup(
        blob_vecs, eps=0.95, nlist=4, round_decimals=9, keep="centroid_far"
    ).collect()
    groups = {}
    for r in out:
        groups.setdefault(r["keeper_id"], set()).add(r["record_id"])
    assert len(groups) == 4 and all(len(v) == 10 for v in groups.values())
    pos = {int(i): k for k, i in enumerate(ids)}
    for keeper, members in groups.items():
        expected = min(members, key=lambda i: (csim[pos[i]], i))
        assert keeper == expected


def test_semantic_dedup_train_iters_keeps_groups(blob_vecs):
    """kmeans refinement (the non-SQL knob) must not change grouping
    when the seeds already sit one per blob — pins that the refined
    quantizer output flows through the same closure/keeper stages."""
    base = {
        (r["record_id"], r["keeper_id"])
        for r in ann.semantic_dedup(
            blob_vecs, eps=0.95, nlist=4, round_decimals=9, keep="min_id"
        ).collect()
    }
    refined = {
        (r["record_id"], r["keeper_id"])
        for r in ann.semantic_dedup(
            blob_vecs, eps=0.95, nlist=4, round_decimals=9,
            keep="min_id", train_iters=3,
        ).collect()
    }
    assert base == refined


def test_semantic_dedup_cap_and_guards(spark, blob_vecs):
    """max_list_size drops oversize lists (canopy rule) -> all
    singletons here (every list has 10 members > cap 5); string ids
    group exactly as the integer ids they were cast from; unknown keep
    rules fail fast."""
    out = ann.semantic_dedup(
        blob_vecs, eps=0.95, nlist=4, round_decimals=9, max_list_size=5
    ).collect()
    assert len(out) == 40
    assert all(not r["is_dup"] and r["record_id"] == r["keeper_id"]
               for r in out)
    # zero-padded, so the string order (seed pick, min-id keeper) is the
    # integer order
    sdf = blob_vecs.selectExpr(
        "lpad(CAST(vec_id AS STRING), 3, '0') AS vec_id", "embedding"
    )

    def keepers(df):
        return {
            (r["record_id"], r["keeper_id"])
            for r in ann.semantic_dedup(
                df, eps=0.95, nlist=4, round_decimals=9, keep="min_id"
            ).collect()
        }

    by_int = keepers(blob_vecs)
    assert len({k for _, k in by_int}) == 4
    assert keepers(sdf) == {(f"{r:03d}", f"{k:03d}") for r, k in by_int}
    with pytest.raises(ValueError, match="keep rule"):
        ann.semantic_dedup(blob_vecs, keep="random")


def test_train_ivf_centroids_rebalances_bad_seeds(spark):
    """Adversarial seeding: the 4 lowest-id vectors all sit in ONE blob,
    so the seed quantizer funnels most of the corpus into few lists;
    Lloyd rounds must spread the centroids so every blob gets a list and
    single-probe twin recall recovers."""
    import numpy as np

    rng = np.random.default_rng(23)
    centers = np.eye(4, 16)
    rows = []
    # ids 0-3: four near-identical vectors inside blob 0 (bad seeds)
    for i in range(4):
        v = centers[0] + rng.standard_normal(16) * 0.01
        rows.append((i, v.astype("float32").tolist()))
    # ids 10+: 8 vectors per blob, twins at +100
    nid = 10
    for b in range(4):
        for _ in range(8):
            v = centers[b] + rng.standard_normal(16) * 0.02
            rows.append((nid, v.astype("float32").tolist()))
            rows.append((100 + nid, (v + rng.standard_normal(16) * 0.005)
                         .astype("float32").tolist()))
            nid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.where("vec_id >= 10 AND vec_id < 100")

    def recall(train_iters):
        out = ann.ivf_topk(q, df, k=1, nlist=4, nprobe=1,
                           train_iters=train_iters)
        top = {r["query_id"]: r["neighbor_id"] for r in out.collect()}
        return sum(1 for i in range(10, 42) if top.get(i) == 100 + i) / 32

    r0, r5 = recall(0), recall(5)
    # seeds-only: 3 of 4 blobs share lists with blob 0's clones -> poor
    # single-probe recall; refined: every blob owns a centroid
    assert r5 >= 0.95
    assert r5 >= r0


def test_cosine_neardup_exact_flag(spark, vecs, monkeypatch):
    import warnings

    # over the size bound the bucketed plan runs, finds the same pairs,
    # and the degrade warns (ADVICE r02: no silent contract weakening)
    monkeypatch.setattr(ann, "NEARDUP_BROADCAST_MAX_ROWS", 2)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        approx = ann.cosine_neardup_pairs(vecs, threshold=0.9)
        assert any("degrading" in str(x.message) for x in w)
    assert "MapInPandas" not in _executed_plan(approx)
    assert {(r["src"], r["dst"]) for r in approx.collect()} == {(0, 1), (2, 3)}


def test_textstats_goldens(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog"), (2, "Der Hund ist nicht ein Katze der die"),
         (3, None)],
        "id long, text string",
    )
    out = df.select(
        "id",
        textstats.token_count(F.col("text")).alias("tc"),
        textstats.bpe_token_count(F.col("text")).alias("bc"),
        textstats.lang_id(F.col("text")).alias("lang"),
        textstats.quality_score(F.col("text")).alias("q"),
        textstats.doc_fingerprint(F.col("text")).alias("fp"),
    ).collect()
    rows = {r["id"]: r for r in out}
    assert rows[1]["tc"] == 5 and rows[1]["bc"] == 5
    assert rows[1]["lang"] == "en"
    assert rows[2]["lang"] == "de"
    assert rows[3]["tc"] is None and rows[3]["lang"] is None
    assert rows[1]["fp"] == "and cat dog the"
    assert 0.0 <= rows[1]["q"] <= 1.0


def test_textstats_degenerate_text(spark):
    # empty / whitespace-padded text: counts reflect actual tokens (no
    # phantom '' from split), quality stays defined, nulls stay null
    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "  the cat  "), (4, None)],
        "id long, text string",
    )
    out = {
        r["id"]: r
        for r in df.select(
            "id",
            textstats.token_count(F.col("text")).alias("tc"),
            textstats.stopword_count(F.col("text")).alias("sw"),
            textstats.quality_score(F.col("text")).alias("q"),
        ).collect()
    }
    assert out[1]["tc"] == 0 and out[2]["tc"] == 0
    assert out[3]["tc"] == 2 and out[3]["sw"] == 1
    assert out[1]["q"] == 0.0  # 0 stopwords, 0 alpha chars, no 0/0
    assert out[4]["tc"] is None and out[4]["sw"] is None and out[4]["q"] is None


def test_multimodal_features_deterministic(spark):
    rows = [
        ("m1", b"\x00\x01\x02" * 50, "image/png", 10, 10),
        ("m2", None, None, None, None),
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    out1 = {r["media_id"]: r["features"] for r in multimodal.extract_media_features(df).collect()}
    out2 = {r["media_id"]: r["features"] for r in multimodal.extract_media_features(df).collect()}
    assert out1["m1"] == out2["m1"]
    assert len(out1["m1"]) == multimodal.FEATURE_DIM
    assert out1["m2"] is None


def test_frame_sample_plan(spark):
    rows = [("m1", bytes(range(100)), "video/mp4", None, None)]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    frames = multimodal.frame_sample_plan(df, every_n=30).collect()
    assert [r["frame_idx"] for r in frames] == [0, 1, 2, 3]
    assert bytes(frames[0]["frame_payload"]) == bytes(range(30))


def test_salted_candidate_pairs_matches_plain(spark):
    """Salting must preserve the exact pair set of the plain self-join
    (completeness under skew — north_rule)."""
    import pyspark.sql.functions as F

    from ny_campaign_finance_dedupe_spark.operators import pairs as P

    rows = [("hot", f"r{i:03d}") for i in range(40)] + [
        ("cold1", "a"), ("cold1", "b"), ("cold2", "c")
    ]
    bm = spark.createDataFrame(rows, "block_key string, record_id string")
    plain = {
        (r["src"], r["dst"]) for r in P.candidate_pairs(bm).collect()
    }
    salted = {
        (r["src"], r["dst"])
        for r in P.salted_candidate_pairs(bm, hot_threshold=10, salt=4).collect()
    }
    assert salted == plain
    assert len(plain) == 40 * 39 // 2 + 1


def test_quantizer_parity_across_physical_paths(spark):
    """round_decimals must be ONE function on every physical path: the
    broadcast-GEMM numpy kernel (_round_half_away), the distributed
    Catalyst expression (_maybe_round), and DuckDB ROUND all round the
    BINARY double half-away-from-zero. F.round would disagree (it
    rounds the shortest-decimal string, e.g. 0.145@2dp -> 0.15 vs
    0.14), which is why _maybe_round is an explicit floor expression."""
    import numpy as np

    vals = [0.145, -0.145, 0.575, 0.5005, -0.5005, 0.9999999995, 0.0,
            1.0, -1.0, 0.1234567894999]
    for nd in (2, 3, 9):
        want = ann._round_half_away(np.array(vals), nd)
        df = spark.createDataFrame([(v,) for v in vals], "x double")
        got = [
            r["q"]
            for r in df.select(
                ann._maybe_round(F.col("x"), nd).alias("q")
            ).collect()
        ]
        assert got == list(want), (nd, got, list(want))
    # and with nd=None the column passes through untouched
    df = spark.createDataFrame([(0.145,)], "x double")
    assert df.select(ann._maybe_round(F.col("x"), None)).collect()[0][0] == 0.145


def test_brute_force_paths_agree_with_quantizer(spark, monkeypatch):
    """The operator's two physical paths (broadcast GEMM, and the
    distributed join it takes when the query side is over
    MAX_COLLECT_ROWS) must return the same top-k under the quantizer —
    the cross-path determinism round_decimals exists for."""
    import numpy as np

    rng = np.random.default_rng(5)
    rows = [
        (i, [float(x) for x in rng.standard_normal(8)]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    fits = ann.brute_force_topk(df, df, k=3, round_decimals=9)
    assert "MapInPandas" in _executed_plan(fits)
    a = fits.collect()
    monkeypatch.setattr(ann, "MAX_COLLECT_ROWS", 39)
    over = ann.brute_force_topk(df, df, k=3, round_decimals=9)
    plan = _executed_plan(over)
    assert "MapInPandas" not in plan and "ArrowEvalPython" in plan, plan
    b = over.collect()
    key = lambda r: (r["query_id"], r["rank"])
    sa = {key(r): (r["neighbor_id"], r["cosine"]) for r in a}
    sb = {key(r): (r["neighbor_id"], r["cosine"]) for r in b}
    assert sa == sb


def test_segment_dedup_removes_planted_boilerplate(spark):
    """A 5-word header planted in 3 docs is corpus-boilerplate at
    df_threshold=2; unique tails survive in order, an all-boilerplate
    doc rebuilds to '' (not a vanished row)."""
    hdr = "nav home about contact legal"
    rows = [
        (1, hdr + " alpha beta gamma delta epsilon unique one"),
        (2, hdr + " zeta eta theta iota kappa unique two"),
        (3, hdr),  # all boilerplate
        (4, "completely original text with no shared window here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["record_id"]: r
        for r in dedup.segment_dedup(
            df, "doc_id", "text", seg_words=5, df_threshold=2
        ).collect()
    }
    assert len(out) == 4
    assert out[1]["clean_text"] == "alpha beta gamma delta epsilon unique one"
    assert out[2]["clean_text"] == "zeta eta theta iota kappa unique two"
    assert out[3]["clean_text"] == "" and out[3]["n_dropped"] == 1
    assert out[4]["n_dropped"] == 0
    assert out[1]["n_seg"] == 3 and out[1]["n_dropped"] == 1


def test_segment_dedup_anti_join_rebuild(spark):
    """One path serves every input: on a corpus with planted families
    the hot segments leave through the broadcast anti-join and the
    groupBy rebuild (no Python kernel), one row per document."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = dedup.segment_dedup(
        docs, "doc_id", "text", seg_words=7, df_threshold=1
    )
    plan = _executed_plan(out)
    assert "LeftAnti" in plan and "MapInPandas" not in plan, plan
    rows = out.collect()
    dedup.release(out)
    assert len(rows) == docs.count()
    assert len({r["record_id"] for r in rows}) == len(rows)
    assert sum(r["n_dropped"] for r in rows) > 0  # the planted dups fire


def test_segment_dedup_guards(spark):
    """The path is not a caller knob: the removed ``strategy=`` keyword
    is rejected, and documents made only of hot segments keep their
    rows, as '' with every segment dropped."""
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "a b c")],
        "doc_id long, text string",
    )
    with pytest.raises(TypeError, match="strategy"):
        dedup.segment_dedup(df, "doc_id", "text", strategy="shuffle")
    out = dedup.segment_dedup(
        df, "doc_id", "text", seg_words=5, df_threshold=1
    )
    assert "LeftAnti" in _executed_plan(out)
    rows = sorted(tuple(r) for r in out.collect())
    dedup.release(out)
    assert rows == [(i, "", 1, 1) for i in (1, 2, 3)]


def test_repetition_stats_goldens(spark):
    """Hand-computed Gopher repetition signals: a looping page, a clean
    page, a short page below gram width, and a NULL text (nullable
    Int64 path — object+None int columns corrupt through Arrow
    otherwise)."""
    rows = [
        (1, "spam ham spam ham spam ham"),      # loop: 6 toks, 2 uniq
        (2, "every word here is different ok"),  # clean: no repeats
        (3, "one"),                               # below 2-gram width
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["record_id"]: r for r in
           textstats.repetition_stats(df, "doc_id", "text").collect()}
    r1 = out[1]
    assert r1["n_tok"] == 6
    assert abs(r1["dup_token_frac"] - 4 / 6) < 1e-15
    # 2-grams: (spam ham) x3, (ham spam) x2 -> top 3*2/6=1.0, dup 5*2/6
    assert abs(r1["top2_frac"] - 1.0) < 1e-15
    assert abs(r1["dup2_frac"] - 10 / 6) < 1e-15
    # 3-grams: (spam ham spam) x2, (ham spam ham) x2 -> top 2*3/6=1.0
    assert abs(r1["top3_frac"] - 1.0) < 1e-15
    assert abs(r1["dup3_frac"] - 2.0) < 1e-15
    r2 = out[2]
    assert r2["dup_token_frac"] == 0.0
    assert r2["top2_frac"] == 0.0 and r2["dup2_frac"] == 0.0
    r3 = out[3]
    assert r3["n_tok"] == 1 and r3["top2_frac"] == 0.0
    r4 = out[4]
    assert r4["n_tok"] is None and r4["dup3_frac"] is None


def test_clean_corpus_composite(spark):
    """The cleaning chain end-to-end: boilerplate stripped; two docs
    that become IDENTICAL after stripping collapse to the min id (raw
    exact dedup would miss them); emptied and too-short docs drop."""
    from ny_campaign_finance_dedupe_spark.plans import corpus

    hdr = "nav home about contact legal"
    rows = [
        # 1 and 2: same body, different position of the shared header ->
        # raw texts differ, cleaned texts identical
        (1, hdr + " alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta epsilon " + hdr),
        (3, hdr),                                    # emptied -> dropped
        (4, "tiny doc"),                             # < min_tokens
        (5, "a completely different surviving page body here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # df_threshold=2: the header (3 docs) is boilerplate, the shared
    # body (2 docs) is NOT — it must survive cleaning and then collapse
    # in the exact stage instead
    res = corpus.clean_corpus(
        df, "doc_id", "text", seg_words=5, df_threshold=2, min_tokens=5
    )
    out = {r["record_id"]: r for r in res.collect()}
    assert set(out) == {1, 5}
    assert out[1]["clean_text"] == "alpha beta gamma delta epsilon"
    assert out[1]["n_tok"] == 5
    # the one cached subtree is segment_dedup's base; the exact stage
    # adds none
    assert len(res._persisted_deps) == 1
    dedup.release(res)  # reclaims the segment persist carried through


def test_decontaminate_drops_benchmark_overlap(spark):
    """A training doc quoting 8+ consecutive benchmark words drops; a
    doc sharing only shorter runs survives; benchmark self-rows drop."""
    bench_text = "the quick brown fox jumps over the lazy dog tonight"
    rows = [
        (1, bench_text),                                   # benchmark row
        (2, "intro text then " + bench_text + " quoted verbatim"),
        (3, "the quick brown fox appears here but the run stops"),
        (4, "completely unrelated content with new words only"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    bench = df.where("doc_id = 1")
    out = {r["doc_id"] for r in
           dedup.decontaminate(df, "doc_id", "text", bench, n=8).collect()}
    assert out == {3, 4}


def test_decontaminate_collapses_whitespace_runs(spark):
    """word_ngrams splits on \\s+, so a doubled space inside the quoted
    benchmark run must still contaminate (the oracle mirrors this with
    a regexp split)."""
    bench_text = "one two three four five six seven eight nine"
    rows = [
        (1, bench_text),
        (2, "prefix one two  three four five six seven eight suffix"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    bench = df.where("doc_id = 1")
    out = {r["doc_id"] for r in
           dedup.decontaminate(df, "doc_id", "text", bench, n=8).collect()}
    assert out == set()  # both drop: the doubled space collapses


# ---- ExactSubstr passage dedup (Lee et al. 2022) ----


def test_passage_dedup_removes_shared_span(spark):
    """Two docs share an exact 10-token passage (> window=8): every
    token of the shared span is removed from BOTH, the unique prefix/
    suffix survives byte-identical, untouched docs pass through."""
    shared = "one two three four five six seven eight nine ten"
    rows = [
        (1, f"intro words here {shared} tail a"),
        (2, f"other opening {shared} different ending text"),
        (3, "completely unrelated document with its own words only"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["record_id"]: r
        for r in dedup.passage_dedup(df, "doc_id", "text", window=8).collect()
    }
    assert out[1]["clean_text"] == "intro words here tail a"
    assert out[2]["clean_text"] == "other opening different ending text"
    assert out[1]["n_removed"] == 10 and out[2]["n_removed"] == 10
    assert out[3]["clean_text"] == rows[2][1] and out[3]["n_removed"] == 0


def test_passage_dedup_within_doc_repeat(spark):
    """The suffix-array criterion counts sites, not documents: a span
    repeated inside ONE doc is duplicated and both occurrences go."""
    span = "a b c d e f g h"  # exactly window tokens
    df = spark.createDataFrame(
        [(1, f"x {span} y {span} z"), (2, "unrelated words")],
        "doc_id long, text string",
    )
    out = {
        r["record_id"]: r
        for r in dedup.passage_dedup(df, "doc_id", "text", window=8).collect()
    }
    assert out[1]["clean_text"] == "x y z"
    assert out[1]["n_removed"] == 16
    assert out[2]["n_removed"] == 0


def test_passage_dedup_short_and_empty_docs(spark):
    """Docs shorter than the window have no windows — untouched; ''
    and NULL normalize to the single-empty-token shape consistently."""
    dup = "p q r s t u v w"
    rows = [(1, "tiny doc"), (2, ""), (3, None), (4, dup), (5, dup)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["record_id"]: r
        for r in dedup.passage_dedup(df, "doc_id", "text", window=8).collect()
    }
    assert out[1]["clean_text"] == "tiny doc" and out[1]["n_removed"] == 0
    assert out[2]["clean_text"] == "" and out[2]["n_tokens"] == 1
    assert out[3]["clean_text"] == "" and out[3]["n_removed"] == 0
    # 4 and 5 are byte-identical window-length docs: fully removed
    assert out[4]["clean_text"] == "" and out[4]["n_removed"] == 8
    assert out[5]["clean_text"] == "" and out[5]["n_removed"] == 8


def test_passage_dedup_min_sites(spark):
    """min_sites raises the duplication bar: a span at 2 sites survives
    min_sites=3, a span at 3 sites does not."""
    two = "t1 t2 t3 t4 t5 t6 t7 t8"
    three = "u1 u2 u3 u4 u5 u6 u7 u8"
    rows = [
        (1, f"{two} mid {three}"),
        (2, f"start {two} end"),
        (3, f"alpha {three} beta"),
        (4, f"gamma {three} delta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["record_id"]: r["clean_text"]
        for r in dedup.passage_dedup(
            df, "doc_id", "text", window=8, min_sites=3
        ).collect()
    }
    assert out[1] == f"{two} mid"
    assert out[2] == f"start {two} end"
    assert out[3] == "alpha beta" and out[4] == "gamma delta"


def test_passage_dedup_no_pair_explosion(spark):
    """Scale shape: 300 copies of one boilerplate doc must NOT form
    pairs anywhere — the optimized plan contains no join wider than the
    linear site fan-out and the op completes with linear output."""
    rows = [(i, "same eight tokens of boilerplate body text here") for i in range(300)]
    rows += [(1000, "a unique document that shares nothing at all")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.passage_dedup(df, "doc_id", "text", window=8)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "CartesianProduct" not in plan and "collect_list" in plan
    res = out.collect()
    assert len(res) == 301
    removed = {r["record_id"]: r["n_removed"] for r in res}
    assert removed[0] == 8 and removed[1000] == 0


def test_contamination_overlap_ratios(spark):
    """Hand-computable overlap ratios at n=2: doc 1 is the benchmark;
    doc 2 shares exactly half its distinct 2-grams; doc 3 shares none;
    doc 4 is too short to form a gram (ratio 0, still present)."""
    docs = spark.createDataFrame(
        [
            (1, "a b c"),             # grams {a b, b c}
            (2, "a b x y"),           # grams {a b, b x, x y} -> 1/3 hit
            (3, "p q r"),             # {p q, q r} -> 0 hits
            (4, "solo"),              # no 2-gram
        ],
        "doc_id long, text string",
    )
    bench = docs.where(F.col("doc_id") == 1)
    out = {
        r["record_id"]: (r["n_grams"], r["n_hit"], r["overlap"])
        for r in dedup.contamination_overlap(
            docs, "doc_id", "text", bench, "text", n=2
        ).collect()
    }
    assert out[1] == (2, 2, 1.0)
    assert out[2] == (3, 1, 1 / 3)
    assert out[3] == (2, 0, 0.0)
    assert out[4] == (0, 0, 0.0)


def test_decontaminate_fuzzy_threshold_is_strict(spark):
    """decontaminate_fuzzy drops only ratios STRICTLY above
    max_overlap; a doc exactly at the threshold survives, and the
    gram-less doc always survives."""
    docs = spark.createDataFrame(
        [
            (1, "a b c d"),        # benchmark row: ratio 1.0 -> dropped
            (2, "a b z w"),        # {a b, b z, z w}: 1/3 <= 1/3 -> kept
            (3, "a b b c c d x"),  # {a b, b b, b c, c c, c d, d x}:
                                   # hits {a b, b c, c d} = 3/6 > 1/3
            (4, "q"),              # no grams -> kept
        ],
        "doc_id long, text string",
    )
    bench = docs.where(F.col("doc_id") == 1)
    kept = sorted(
        r["doc_id"]
        for r in dedup.decontaminate_fuzzy(
            docs, "doc_id", "text", bench, "text", n=2, max_overlap=1 / 3
        ).collect()
    )
    assert kept == [2, 4]


def test_hot_ngrams_doc_frequency_not_term_frequency(spark):
    """A gram repeated INSIDE one doc counts once (word_ngrams is
    distinct-per-doc): doc frequency ranks 'x y' (2 docs) above
    'a a' (1 doc, 3 occurrences); ties break gram-ascending."""
    docs = spark.createDataFrame(
        [
            (1, "a a a a"),        # 'a a' x3 within one doc
            (2, "x y"),
            (3, "x y"),
            (4, "m n"),
        ],
        "doc_id long, text string",
    )
    rows = dedup.hot_ngrams(docs, "text", n=2, top_k=3).collect()
    assert [(r["gram"], r["doc_freq"]) for r in rows] == [
        ("x y", 2),
        ("a a", 1),
        ("m n", 1),
    ]


def test_passage_dedup_arrow_kernel_matches_expr(spark, monkeypatch):
    """The two kept-token rebuild paths must be output-identical. Drive
    the same mixed corpus (shared spans, within-doc repeat, clean doc,
    short doc, empty) through forced-expr (threshold huge) and
    forced-arrow (threshold 0) and compare every row."""
    shared = "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10"
    rows = [
        (1, f"intro {shared} outro"),
        (2, f"{shared} tail words here"),
        (3, "r1 r2 r3 r4 r5 r6 r7 r8 mid r1 r2 r3 r4 r5 r6 r7 r8"),
        (4, "completely unique document body with no duplicate spans at all"),
        (5, "short doc"),
        (6, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def run(threshold):
        monkeypatch.setattr(dedup, "PASSAGE_ARROW_MIN_TOKENS", threshold)
        out = dedup.passage_dedup(df, "doc_id", "text", window=8)
        rows_ = sorted(
            (r["record_id"], r["clean_text"], r["n_tokens"], r["n_removed"])
            for r in out.collect()
        )
        dedup.release(out)
        return rows_

    expr_rows = run(10**9)
    arrow_rows = run(0)
    assert expr_rows == arrow_rows
    # sanity: the shared span actually got removed on both paths
    by_id = {r[0]: r for r in expr_rows}
    assert by_id[1][1] == "intro outro"
    assert by_id[3][3] > 0


def test_passage_dedup_default_threshold_routes_long_doc_to_arrow(spark):
    """A doc over PASSAGE_ARROW_MIN_TOKENS tokens takes the Arrow path
    (mixed with short docs through the default entrypoint) and still
    rebuilds correctly."""
    long_tokens = [f"w{i}" for i in range(dedup.PASSAGE_ARROW_MIN_TOKENS + 64)]
    dup_span = "d1 d2 d3 d4 d5 d6 d7 d8"
    rows = [
        (1, " ".join(long_tokens) + f" {dup_span}"),
        (2, f"{dup_span} something else entirely"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.passage_dedup(df, "doc_id", "text", window=8)
    got = {r["record_id"]: r for r in out.collect()}
    dedup.release(out)
    assert got[1]["n_removed"] == 8
    assert got[1]["clean_text"] == " ".join(long_tokens)
    assert got[2]["clean_text"] == "something else entirely"
