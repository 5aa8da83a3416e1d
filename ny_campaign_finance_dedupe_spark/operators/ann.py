"""Similarity search over embedding columns (array<float>).

Two physical strategies behind one contract:
- ``brute_force_topk``: exact — broadcast the (small) normalized query
  matrix, stream the corpus through a mapInPandas GEMM (one
  numpy matmul per Arrow batch), keep batch-local top-k, global window
  top-k. The corpus never shuffles; per-batch pruning keeps the exchange
  at O(n_queries x k x n_batches) rows. A query side over
  MAX_COLLECT_ROWS takes a distributed cross join instead.
- ``lsh_topk``: scale path — random-hyperplane LSH buckets
  (sign-pattern key per band) so the join is an equi-join on bucket id;
  exact cosine re-rank (Arrow-batched einsum) within the union of
  probed buckets. Recall is tunable by (bands, bits); the candidate
  generation is the same banded-key shape as MinHash blocking — one
  shuffle, no n^2.

``dot``/``norm``/``cosine`` remain available as pure Catalyst
expressions (zip_with + aggregate) for composition inside larger
column-level plans; the hot paths use the Arrow kernels — higher-order
array functions are interpreted per element and measured ~20x slower
than one matmul per batch.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import Column, DataFrame, Window

from . import pairs


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _norm_rows(m: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(m, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return m / n


def _round_half_away(a: np.ndarray, nd: int) -> np.ndarray:
    """Half-away-from-zero rounding, matching F.round / DuckDB ROUND.
    np.round is banker's (half-to-even), so the broadcast GEMM path and
    the distributed/oracle path would disagree at exact half-point values
    of the quantization decimal; this keeps both paths on one rule."""
    scale = 10.0**nd
    return np.sign(a) * np.floor(np.abs(a) * scale + 0.5) / scale


# A broadcast build side bigger than this is a planning error, not a
# bigger broadcast: 2M x 64-dim float64 is ~1 GiB on the driver. Callers
# that can exceed it must use the distributed path (lsh/banded join).
MAX_COLLECT_ROWS = 2_000_000

# Per-task GEMM output tile bound: the (arrow_batch x n_broadcast) sims
# matrix is materialized in column tiles of at most this many float64
# elements (~128 MiB), so executor memory stays bounded no matter how
# large the (contract-legal) broadcast side is — 20k-row Arrow batches
# against a 2M-row build side would otherwise allocate 320 GB per task.
GEMM_TILE_ELEMS = 16 * 1024 * 1024


def _tile_cols(n_rows: int, elems: int) -> int:
    """Column-tile width so a (n_rows x tile) float64 block stays under
    ``elems``; a floor keeps the matmul BLAS-fat. ``elems`` is captured
    at plan-build time (GEMM_TILE_ELEMS) so tests can force multi-tile."""
    return max(64, elems // max(1, n_rows))


def _matrix(df: DataFrame, id_col: str, vec_col: str):
    """Driver-side (ids, row-normalized float64 matrix) for the SMALL
    side of a similarity plan. The collected side must fit the driver —
    same contract as any broadcast join build side, ENFORCED: refuses to
    collect more than MAX_COLLECT_ROWS (fail fast beats a driver OOM).
    Single evaluation of the input lineage: the bound is enforced by the
    ``limit(max+1)`` collect itself, not a separate count job."""
    max_rows = MAX_COLLECT_ROWS
    pdf = df.select(id_col, vec_col).limit(max_rows + 1).toPandas()
    if len(pdf) > max_rows:
        raise ValueError(
            f"_matrix: refusing to collect >{max_rows} rows to the "
            f"driver; use the distributed plan (lsh_topk / bucketed "
            f"cosine_neardup_pairs) for a side this large"
        )
    return _pdf_to_matrix(pdf, id_col, vec_col)


def _pdf_to_matrix(pdf: pd.DataFrame, id_col: str, vec_col: str):
    """Collected pandas frame -> (ids, row-normalized float64 matrix);
    empty input yields a (0, 0) matrix, never a vstack crash."""
    ids = pdf[id_col].to_numpy()
    if len(pdf) == 0:
        return ids, np.zeros((0, 0), dtype=np.float64)
    m = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
    return ids, _norm_rows(m)


def cosine_batch_udf():
    """Arrow-batched cosine between two array columns: one einsum per
    batch instead of an interpreted aggregate per row (~20x)."""

    def batch(
        it: Iterator[tuple[pd.Series, pd.Series]],
    ) -> Iterator[pd.Series]:
        for a, b in it:
            if len(a) == 0:
                yield pd.Series([], dtype="float64")
                continue
            ma = _norm_rows(np.vstack([np.asarray(v, np.float64) for v in a]))
            mb = _norm_rows(np.vstack([np.asarray(v, np.float64) for v in b]))
            yield pd.Series(np.einsum("ij,ij->i", ma, mb))

    return F.pandas_udf(batch, T.DoubleType())


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    round_decimals: int | None = None,
) -> DataFrame:
    """Exact top-k by cosine: (query_id, neighbor_id, rank, cosine).

    Self-search convention: a vector is never its own neighbor.
    The physical plan follows the query side's size, read off one
    ``limit(MAX_COLLECT_ROWS + 1)`` collect:
    - it fits (the common case): the collected, normalized query matrix
      is a broadcast variable; each corpus Arrow batch does ONE GEMM
      against it and emits only its batch-local top-k rows per query; a
      global window rank finishes. The corpus never shuffles; the
      exchange carries O(n_queries x k x n_batches) rows, not n_q x n_c.
    - it does not: fully-distributed exact plan — query x corpus join +
      Arrow-batched cosine + window top-k, with no further driver
      collect.
    Both return the same rows (pinned by test at 9 decimals).

    ``round_decimals`` quantizes the cosine BEFORE ranking, so rank
    boundaries depend on the id tie-break rather than the engine's float
    operation order whenever two scores agree to that precision — the
    cross-engine (numpy GEMM vs SQL dot/norm) reproducibility knob the
    oracle-checked gate queries use (9 decimals).
    """
    pdf = queries.select(id_col, vec_col).limit(MAX_COLLECT_ROWS + 1).toPandas()
    if len(pdf) > MAX_COLLECT_ROWS:
        q = queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
        )
        c = corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nv")
        )
        scored = (
            q.crossJoin(c)
            .where(F.col("query_id") != F.col("neighbor_id"))
            .select(
                "query_id",
                "neighbor_id",
                _maybe_round(
                    cosine_batch_udf()(F.col("qv"), F.col("nv")),
                    round_decimals,
                ).alias("cosine"),
            )
        )
    else:
        scored = _gemm_topk_rows(pdf, corpus, id_col, vec_col, k, round_decimals)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def _gemm_topk_rows(
    pdf: pd.DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    round_decimals: int | None,
) -> DataFrame:
    """brute_force_topk's broadcast path: (query_id, neighbor_id, cosine)
    batch-local top-k rows of the collected query side ``pdf`` against
    every corpus Arrow batch."""
    spark = corpus.sparkSession
    q_ids, q_mat = _pdf_to_matrix(pdf, id_col, vec_col)
    id_type = corpus.schema[id_col].dataType

    out_schema = T.StructType(
        [
            T.StructField("query_id", id_type),
            T.StructField("neighbor_id", id_type),
            T.StructField("cosine", T.DoubleType()),
        ]
    )
    if len(q_ids) == 0:  # an empty query side is an empty result, not
        return spark.createDataFrame([], out_schema)  # a vstack crash
    bc = spark.sparkContext.broadcast((q_ids, q_mat))
    tile_elems = GEMM_TILE_ELEMS  # captured: executors see the build-time value

    def gemm(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, qm = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cm = _norm_rows(
                np.vstack([np.asarray(v, np.float64) for v in pdf[vec_col]])
            )
            nb = pdf[id_col].to_numpy()
            kk = min(k + 1, cm.shape[0])  # +1 absorbs a self-match
            # query-tile loop: sims is (n_batch x n_q) materialized a
            # column tile at a time so executor memory stays bounded at
            # the broadcast contract's 2M-query ceiling; per-query top-k
            # never needs other queries' columns.
            frames = []
            tile = _tile_cols(cm.shape[0], tile_elems)
            for lo in range(0, qm.shape[0], tile):
                sims = cm @ qm[lo : lo + tile].T  # (n_batch, tile)
                if round_decimals is not None:
                    sims = _round_half_away(sims, round_decimals)
                # batch-local prune must use the SAME total order as the
                # global window — (cosine desc, neighbor_id asc) — or
                # ties straddling the kk boundary make output depend on
                # partition boundaries (determinism contract of
                # scaling_bench).
                for qi_idx in range(sims.shape[1]):
                    order = np.lexsort((nb, -sims[:, qi_idx]))[:kk]
                    frames.append(
                        pd.DataFrame(
                            {
                                "query_id": np.repeat(
                                    ids[lo + qi_idx], len(order)
                                ),
                                "neighbor_id": nb[order],
                                "cosine": sims[order, qi_idx],
                            }
                        )
                    )
            out = pd.concat(frames, ignore_index=True)
            yield out[out["query_id"] != out["neighbor_id"]]

    return corpus.select(id_col, vec_col).mapInPandas(gemm, schema=out_schema)


def _hyperplanes(dim: int, bands: int, bits: int, seed: int) -> list[list[list[float]]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((bands, bits, dim)).tolist()


def bucket_keys(
    vec: Column, dim: int, bands: int = 8, bits: int = 12, seed: int = 11
) -> Column:
    """array<string> of per-band sign-pattern bucket ids.

    Each band key is the sign bit pattern of ``bits`` fixed random
    hyperplane projections (Charikar SimHash for real vectors) — two
    vectors at angle theta collide in a band with prob
    (1 - theta/pi)^bits. Measured on planted truth the model holds
    within ~2 pp across (bands, bits) geometries:
    tools/lsh_recall_sweep.py, table in BASELINE.md "LSH-ANN recall
    curve"; default geometry gated recall@10 >= 0.99 at cosine 0.99 by
    test_hashing.py. The (bands*bits, dim) hyperplane matrix is
    seeded, generated in-process on every executor (closure constant),
    and applied as ONE GEMM per Arrow batch — the literal-array
    expression form evaluated an interpreted dot product per plane per
    row (~bands*bits*dim interpreted ops/row).
    """
    planes = np.asarray(_hyperplanes(dim, bands, bits, seed), dtype=np.float64)
    flat_planes = planes.reshape(bands * bits, dim)

    def batch(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in it:
            if len(s) == 0:
                yield pd.Series([], dtype=object)
                continue
            m = np.vstack([np.asarray(v, np.float64) for v in s])
            signs = (m @ flat_planes.T >= 0).astype(np.uint8)  # (n, bands*bits)
            out = []
            for row in signs:
                bitstr = row.astype("U1")
                out.append(
                    [
                        f"b{b}:" + "".join(bitstr[b * bits : (b + 1) * bits])
                        for b in range(bands)
                    ]
                )
            yield pd.Series(out)

    return F.pandas_udf(batch, T.ArrayType(T.StringType()))(vec)


def portable_bucket_keys(
    vec: Column, dim: int, bands: int = 8, bits: int = 8
) -> Column:
    """Engine-portable variant of ``bucket_keys``: ±1 md5-derived planes
    (functions/portable.plane_signs) applied to the integer-quantized
    vector (q_j = floor(v_j*1000 + 0.5)), so every projection is an exact
    int64 sum — reproducible by the DuckDB oracle regardless of
    summation order. Same GEMM-per-Arrow-batch physical shape."""
    from ..functions import portable as _p

    signs = np.asarray(_p.plane_signs(dim, bands, bits), dtype=np.int64)

    def batch(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in it:
            if len(s) == 0:
                yield pd.Series([], dtype=object)
                continue
            m = np.vstack([np.asarray(v, np.float64) for v in s])
            q = np.floor(m * float(_p.QUANT) + 0.5).astype(np.int64)
            proj = q @ signs.T  # (n, bands*bits), exact int64
            bitm = (proj >= 0).astype(np.int64)
            weights = np.tile(1 << np.arange(bits, dtype=np.int64), bands)
            pats = (bitm * weights).reshape(len(m), bands, bits).sum(axis=2)
            yield pd.Series(
                [
                    [f"b{b}:{int(row[b])}" for b in range(bands)]
                    for row in pats
                ]
            )

    return F.pandas_udf(batch, T.ArrayType(T.StringType()))(vec)


def _maybe_round(col: Column, nd: int | None) -> Column:
    """Half-away-from-zero quantizer on the BINARY double — the exact
    expression twin of ``_round_half_away`` (and of DuckDB ROUND, which
    rounds the binary value via std::round). Deliberately NOT F.round:
    Spark's Round on doubles goes through the shortest-decimal string
    (BigDecimal.valueOf, HALF_UP), which disagrees with the binary rule
    at values like 0.145@2dp — using it would leave the operator's two
    physical paths (broadcast GEMM vs distributed join) divergent at
    exactly the tie points round_decimals exists to pin down. Safe for
    the cosine domain: |x|*10^nd + 0.5 <= ~1e9+0.5 fits F.floor's long.
    """
    if nd is None:
        return col
    scale = F.lit(float(10.0**nd))
    return (
        F.signum(col)
        * (F.floor(F.abs(col) * scale + F.lit(0.5)) / scale)
    )


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    bands: int = 8,
    bits: int = 12,
    seed: int = 11,
    portable: bool = False,
    round_decimals: int | None = None,
) -> DataFrame:
    """Approximate top-k: equi-join on LSH bucket keys, exact cosine
    re-rank within candidates. Same output schema as brute_force_topk.
    ``portable=True`` swaps the gaussian-seeded planes for the md5/±1
    integer-exact family (portable_bucket_keys) — the oracle-checkable
    variant; identical plan. The portable family is a FIXED hash family
    (its planes are md5-derived constants), so ``seed`` is ignored when
    ``portable=True`` — sweep (bands, bits) instead to vary its recall.

    Shuffle shape: the candidate stage carries (id, bucket) ONLY — a
    vector colliding in several bands would otherwise ride the exchange
    once per collision (~8x the necessary volume at 64-dim float). The
    embeddings re-join AFTER dropDuplicates (the J2 hydration pattern,
    pairs.hydrate_pairs), so each survives exactly one exchange."""
    def keyed(df, role):
        kexpr = (
            portable_bucket_keys(F.col(vec_col), dim, bands, bits)
            if portable
            else bucket_keys(F.col(vec_col), dim, bands, bits, seed)
        )
        return df.select(
            F.col(id_col).alias(f"{role}_id"),
            F.explode(kexpr).alias("bucket"),
        )

    cand_ids = (
        keyed(queries, "query")
        .join(keyed(corpus, "neighbor"), "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("queryv")
    )
    nv = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("neighborv")
    )
    cand = (
        cand_ids.join(qv, "query_id")
        .join(nv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            _maybe_round(
                cosine_batch_udf()(F.col("queryv"), F.col("neighborv")),
                round_decimals,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def seed_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 64,
):
    """Deterministic coarse-quantizer seeds for IVF: the ``nlist``
    lowest-id corpus vectors, collected through the broadcast contract
    (``_matrix``) as (list_ids, row-normalized matrix). Data-seeded —
    no RNG — so the DuckDB oracle can rebuild the identical quantizer
    with ``ORDER BY id LIMIT nlist``; ``train_ivf_centroids`` runs
    distributed Lloyd rounds on top when list balance matters more than
    oracle-expressibility (the classic kmeans IVF of Jegou et al.,
    IVFADC — here only the coarse stage; vectors stay exact)."""
    cent = corpus.orderBy(F.col(id_col).asc()).limit(nlist)
    return _matrix(cent, id_col, vec_col)


def _ivf_assign(
    df: DataFrame,
    bc,
    id_col: str,
    vec_col: str,
    out_id: str,
    top_n: int,
    round_decimals: int | None,
    list_id_type,
    emit_sim: bool = False,
) -> DataFrame:
    """(id, list_id) of each vector's ``top_n`` nearest coarse centroids
    by quantized cosine (ties -> smaller list id — the same total order
    the SQL oracle's ROW_NUMBER uses). One GEMM against the broadcast
    (nlist x dim) centroid matrix per Arrow batch; no shuffle, no
    per-row Python. ``top_n=1`` is the index-build assignment, ``top_n =
    nprobe`` the query-side probe list. ``emit_sim`` adds the (quantized)
    centroid cosine as a ``csim`` column — semantic_dedup's
    keep-farthest-from-centroid rule needs it."""
    fields = [
        T.StructField(out_id, df.schema[id_col].dataType),
        T.StructField("list_id", list_id_type),
    ]
    if emit_sim:
        fields.append(T.StructField("csim", T.DoubleType()))
    schema = T.StructType(fields)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c_ids, c_mat = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = _norm_rows(
                np.vstack([np.asarray(v, np.float64) for v in pdf[vec_col]])
            )
            sims = m @ c_mat.T  # (n_batch, nlist) cosines
            if round_decimals is not None:
                sims = _round_half_away(sims, round_decimals)
            ids = pdf[id_col].to_numpy()
            nn = min(top_n, sims.shape[1])
            rows_id, rows_list, rows_sim = [], [], []
            for i in range(sims.shape[0]):
                order = np.lexsort((c_ids, -sims[i]))[:nn]
                rows_id.append(np.repeat(ids[i], nn))
                rows_list.append(c_ids[order])
                if emit_sim:
                    rows_sim.append(sims[i][order])
            out = {
                out_id: np.concatenate(rows_id),
                "list_id": np.concatenate(rows_list),
            }
            if emit_sim:
                out["csim"] = np.concatenate(rows_sim)
            yield pd.DataFrame(out)

    return df.select(id_col, vec_col).mapInPandas(assign, schema=schema)


def train_ivf_centroids(
    corpus: DataFrame,
    c_mat: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 3,
) -> np.ndarray:
    """Distributed spherical-kmeans refinement of the IVF coarse
    quantizer: per round, one GEMM-assignment pass over the corpus that
    emits per-list per-dimension PARTIAL SUMS of the normalized vectors
    (nlist x dim rows per Arrow batch — never the vectors themselves),
    one groupBy to combine, and a driver collect of the (nlist x dim)
    result; new centroid = renormalized mean direction, empty lists keep
    their seed. The corpus never shuffles and the driver only ever holds
    nlist x dim doubles. Returns the refined matrix (list ids keep their
    seed identity). Not SQL-expressible — the oracle-gated path uses the
    raw seeds (iters=0); refinement is pinned by pytest on planted
    blobs."""
    spark = corpus.sparkSession
    sum_schema = T.StructType(
        [
            T.StructField("li", T.IntegerType()),
            T.StructField("pos", T.IntegerType()),
            T.StructField("s", T.DoubleType()),
        ]
    )
    for _ in range(iters):
        bc = spark.sparkContext.broadcast(c_mat)

        def partial_sums(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            cm = bc.value
            acc = np.zeros_like(cm)  # (nlist, dim) per-task accumulator
            seen = False
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                seen = True
                m = _norm_rows(
                    np.vstack([np.asarray(v, np.float64) for v in pdf[vec_col]])
                )
                best = np.argmax(m @ cm.T, axis=1)
                np.add.at(acc, best, m)
            if seen:
                li, pos = np.nonzero(acc)
                yield pd.DataFrame(
                    {"li": li.astype(np.int32), "pos": pos.astype(np.int32),
                     "s": acc[li, pos]}
                )

        sums = (
            corpus.select(vec_col)
            .mapInPandas(partial_sums, schema=sum_schema)
            .groupBy("li", "pos")
            .agg(F.sum("s").alias("s"))
            .collect()
        )
        new = np.zeros_like(c_mat)
        for r in sums:
            new[r["li"], r["pos"]] = r["s"]
        norms = np.linalg.norm(new, axis=1)
        keep = norms > 0
        new[keep] = new[keep] / norms[keep, None]
        new[~keep] = c_mat[~keep]  # empty list: keep previous centroid
        c_mat = new
    return c_mat


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nlist: int = 64,
    nprobe: int = 8,
    train_iters: int = 0,
    round_decimals: int | None = None,
    corpus_assignment: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k by cosine: (query_id, neighbor_id, rank,
    cosine) — the inverted-file scale path beside ``lsh_topk``.

    Index build: every corpus vector is assigned to its nearest of
    ``nlist`` coarse centroids (one broadcast GEMM pass, no shuffle);
    that (id, list_id) table IS the inverted file. At 100 TB it is built
    once and checkpointed — pass it back via ``corpus_assignment`` so
    repeated searches skip the build (classic IVF build/probe split).
    Search: each query probes its ``nprobe`` nearest lists; candidates
    come from ONE equi-join on list_id (each corpus vector lives in
    exactly one list, so candidates are duplicate-free by construction);
    exact Arrow-batched cosine re-ranks them. Expected candidate volume
    is N * nprobe / nlist per query vs N for brute force.

    Centroids: ``nlist`` lowest-id corpus vectors (seed_centroids —
    deterministic, SQL-expressible: the oracle-gated geometry), then
    ``train_iters`` rounds of distributed spherical kmeans when list
    balance matters (train_ivf_centroids; seeds can sit in one region
    and skew lists — the AQE skew-join split also backstops a hot list).
    ``round_decimals`` pins assignment, probe, and re-rank order
    cross-engine exactly as in brute_force_topk."""
    spark = corpus.sparkSession
    c_ids, c_mat = seed_centroids(corpus, id_col, vec_col, nlist)
    id_type = corpus.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("query_id", id_type),
            T.StructField("neighbor_id", id_type),
            T.StructField("rank", T.IntegerType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )
    if len(c_ids) == 0:
        return spark.createDataFrame([], out_schema)
    if train_iters > 0:
        c_mat = train_ivf_centroids(
            corpus, c_mat, id_col, vec_col, iters=train_iters
        )
    bc = spark.sparkContext.broadcast((c_ids, c_mat))
    if corpus_assignment is None:
        corpus_assignment = _ivf_assign(
            corpus, bc, id_col, vec_col, "neighbor_id", 1, round_decimals, id_type
        )
    probes = _ivf_assign(
        queries, bc, id_col, vec_col, "query_id", nprobe, round_decimals, id_type
    )
    cand_ids = (
        probes.join(corpus_assignment, "list_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("queryv"))
    nv = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("neighborv"))
    cand = (
        cand_ids.join(qv, "query_id")
        .join(nv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            _maybe_round(
                cosine_batch_udf()(F.col("queryv"), F.col("neighborv")),
                round_decimals,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def cosine_neardup_bucketed(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    dim: int | None = None,
    bands: int = 16,
    bits: int = 8,
    seed: int = 11,
) -> DataFrame:
    """Scale path for near-dup pairs: LSH-bucket candidate generation
    (random-hyperplane bands, equi-join on bucket id — one shuffle, no
    n^2) + exact Arrow-batched cosine filter. Approximate: a pair whose
    sign patterns collide in no band is missed; at neardup thresholds
    (cosine >= 0.9 => theta <= 26deg => per-band collision
    (1-theta/pi)^8 ~ 0.28, miss ~ (1-0.28)^16 ~ 0.5%) recall is
    margin-safe and tunable by (bands, bits).

    The candidate shuffle is ids-only ((id, bucket) exchange, vectors
    re-joined after dropDuplicates — pairs.banded_pairs), so a vector
    crosses the wire once, not once per band collision."""
    if dim is None:
        dim = int(
            df.select(F.size(F.col(vec_col)).alias("d")).limit(1).collect()[0]["d"]
        )
    keyed = df.select(F.col(id_col).alias("record_id"), F.col(vec_col).alias("v"))
    return pairs.banded_pairs(
        keyed,
        bucket_keys(F.col("v"), dim, bands, bits, seed),
        cosine_batch_udf(),
        "cosine",
    ).where(F.col("cosine") >= threshold)


# Above this row count the all-pairs GEMM's driver collect + broadcast is
# the wrong plan (n^2 work and a fat build side): switch to the bucketed
# LSH candidates + exact re-check. Mirrors connected_components' adaptive
# driver/distributed split.
NEARDUP_BROADCAST_MAX_ROWS = 100_000


def cosine_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    dim: int | None = None,
    bands: int = 16,
    bits: int = 8,
    seed: int = 11,
) -> DataFrame:
    """All pairs with cosine >= threshold (src < dst).

    Adaptive physical strategy: up to NEARDUP_BROADCAST_MAX_ROWS rows
    the normalized matrix is a broadcast variable and each Arrow batch
    does one GEMM against it, emitting only over-threshold pairs — the
    exchange carries results, never the n^2 pair space. Above it the plan
    switches to ``cosine_neardup_bucketed`` (LSH bands + exact cosine
    re-check): fully distributed, no driver collect, recall margin-safe
    at neardup thresholds. Same output contract either way, and the
    switch WARNS, so the "all pairs >= threshold" contract never weakens
    silently. One evaluation of the input lineage either way: the size
    probe IS the driver collect (``limit(max+1).toPandas``), reused as
    the broadcast matrix when it fits. ``dim``/``bands``/``bits``/
    ``seed`` tune the bucketed plan (ignored by the exact GEMM, which
    has no knobs)."""
    max_rows = NEARDUP_BROADCAST_MAX_ROWS
    pdf = df.select(id_col, vec_col).limit(max_rows + 1).toPandas()
    if len(pdf) > max_rows:
        import warnings

        warnings.warn(
            f"cosine_neardup_pairs: corpus exceeds {max_rows} rows;"
            f" degrading to the LSH-bucketed approximate plan (~0.5%"
            f" recall loss at threshold 0.9). Call"
            f" cosine_neardup_bucketed directly to silence.",
            stacklevel=2,
        )
        return cosine_neardup_bucketed(
            df, id_col, vec_col, threshold,
            dim=dim, bands=bands, bits=bits, seed=seed,
        ).select("src", "dst", "cosine")
    spark = df.sparkSession
    ids, mat = _pdf_to_matrix(pdf, id_col, vec_col)
    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("src", id_type),
            T.StructField("dst", id_type),
            T.StructField("cosine", T.DoubleType()),
        ]
    )
    if len(ids) == 0:
        return spark.createDataFrame([], out_schema)
    bc = spark.sparkContext.broadcast((ids, mat))
    tile_elems = GEMM_TILE_ELEMS  # captured: executors see the build-time value

    def gemm(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        all_ids, m = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cm = _norm_rows(
                np.vstack([np.asarray(v, np.float64) for v in pdf[vec_col]])
            )
            rows = pdf[id_col].to_numpy()
            # column-tile the (n_batch x n_all) sims block: bounded
            # executor memory at any contract-legal broadcast size
            tile = _tile_cols(cm.shape[0], tile_elems)
            for lo in range(0, m.shape[0], tile):
                sims = cm @ m[lo : lo + tile].T  # (n_batch, tile)
                ri, ci = np.nonzero(sims >= threshold)
                src = rows[ri]
                dst = all_ids[lo + ci]
                keep = src < dst
                yield pd.DataFrame(
                    {
                        "src": src[keep],
                        "dst": dst[keep],
                        "cosine": sims[ri, ci][keep],
                    }
                )

    return df.select(id_col, vec_col).mapInPandas(gemm, schema=out_schema)


def semantic_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eps: float = 0.9,
    nlist: int = 64,
    train_iters: int = 0,
    round_decimals: int | None = None,
    max_list_size: int | None = None,
    keep: str = "centroid_far",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) over an embedding
    column: coarse lists bound the pair space, exact cosine within each
    list marks semantic duplicates at ``eps``, transitive closure groups
    them, and one representative per group is kept.

    Returns (record_id, keeper_id, is_dup) for EVERY corpus row:
    keeper_id identifies the kept representative of the row's
    semantic-duplicate group (singletons keep themselves, is_dup =
    false); rows with is_dup = true are what a training pipeline drops.
    ``keep='centroid_far'`` is the paper's rule — keep the member with
    the LOWEST cosine to its list centroid (the most "atypical" example,
    preserving diversity; SemDeDup §3), ties -> smaller id.
    ``keep='min_id'`` keeps the smallest id (the engine-reproducible C8
    labeling used everywhere else).

    Scale shape: the only quadratic term is the within-list pair space
    Sigma |list|^2, bounded by nlist (at 10^12 rows pick ~N/10k lists —
    the paper clusters to ~constant list size) plus ``train_iters``
    k-means rounds to balance lists (data-seeded lists can skew);
    ``max_list_size`` is the canopy-style hard cap (blocking.cap_blocks)
    for adversarial near-singular corpora. Assignment is one broadcast
    GEMM pass (no shuffle); the pair join shuffles (id, list_id) only;
    vectors re-join once for the exact cosine (the J2 hydration shape);
    components are list-confined (each record lives in exactly one
    list), so CC converges in few rounds.

    Oracle path: with train_iters=0 (data-seeded quantizer, ivf_topk's
    ORDER BY id LIMIT nlist) and ``round_decimals`` set, every stage is
    SQL-expressible: assignment CTE + within-list pairwise cosine +
    recursive-CTE closure + ROW_NUMBER keeper. k-means refinement is the
    non-SQL quality knob, pinned by pytest on planted blobs.
    """
    if keep not in ("centroid_far", "min_id"):
        raise ValueError(f"semantic_dedup: unknown keep rule {keep!r}")
    from .clustering import connected_components  # local: no import cycle

    spark = corpus.sparkSession
    id_type = corpus.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("record_id", id_type),
            T.StructField("keeper_id", id_type),
            T.StructField("is_dup", T.BooleanType()),
        ]
    )
    c_ids, c_mat = seed_centroids(corpus, id_col, vec_col, nlist)
    if len(c_ids) == 0:
        return spark.createDataFrame([], out_schema)
    if train_iters > 0:
        c_mat = train_ivf_centroids(
            corpus, c_mat, id_col, vec_col, iters=train_iters
        )
    bc = spark.sparkContext.broadcast((c_ids, c_mat))
    assign = _ivf_assign(
        corpus, bc, id_col, vec_col, "record_id", 1, round_decimals,
        id_type, emit_sim=True,
    )
    if max_list_size is not None:
        from .blocking import cap_blocks

        capped = cap_blocks(
            assign.select(
                F.col("list_id").cast("string").alias("block_key"),
                "record_id",
            ),
            max_list_size,
        )
        assign = assign.join(
            capped.select("record_id"), "record_id", "left_semi"
        )
    # csim is only consumed AFTER grouping (keeper pick); the pair join
    # and CC below reuse assign twice, so materialize the GEMM pass once
    assign = assign.localCheckpoint()
    l, r = assign.alias("l"), assign.alias("r")
    # each record sits in exactly ONE list -> the equi-join emits every
    # within-list pair exactly once; no dropDuplicates shuffle needed
    # (contrast pairs.candidate_pairs, whose multi-key maps do)
    cand = (
        l.join(r, "list_id")
        .where(F.col("l.record_id") < F.col("r.record_id"))
        .select(
            F.col("l.record_id").alias("src"),
            F.col("r.record_id").alias("dst"),
        )
    )
    va = corpus.select(F.col(id_col).alias("src"), F.col(vec_col).alias("va"))
    vb = corpus.select(F.col(id_col).alias("dst"), F.col(vec_col).alias("vb"))
    edges = (
        cand.join(va, "src")
        .join(vb, "dst")
        .select(
            "src",
            "dst",
            _maybe_round(
                cosine_batch_udf()(F.col("va"), F.col("vb")), round_decimals
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= eps)
        .select("src", "dst")
    )
    # groups: CC over duplicate edges (ids in their own type) + singletons
    # as their own group. gid = group-min id (C8).
    comp = connected_components(edges).select(
        "record_id", F.col("cluster_id").alias("gid")
    )
    singles = (
        corpus.select(F.col(id_col).alias("record_id"))
        .join(comp.select("record_id"), "record_id", "left_anti")
        .select("record_id", F.col("record_id").alias("gid"))
    )
    grp = comp.unionByName(singles)
    if keep == "min_id":
        out = grp.select("record_id", F.col("gid").alias("keeper_id"))
    else:
        # left join + nulls-last: a record the cap dropped from ``assign``
        # has no csim but is always its own singleton group — it must
        # still keep itself, not vanish from the output
        w = Window.partitionBy("gid").orderBy(
            F.asc_nulls_last("csim"), F.asc("record_id")
        )
        keeper = (
            grp.join(assign.select("record_id", "csim"), "record_id", "left")
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("gid", F.col("record_id").alias("keeper_id"))
        )
        out = grp.join(keeper, "gid").select("record_id", "keeper_id")
    return out.withColumn(
        "is_dup", F.col("record_id") != F.col("keeper_id")
    )
