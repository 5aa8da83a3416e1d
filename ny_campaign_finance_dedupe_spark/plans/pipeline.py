"""The flagship plan: pages -> extract -> block -> pairs -> score -> cluster.

Reference lifecycle: ``run_dedupe`` (campaign_finance_dedupe.py:119-490,
SURVEY.md §3.1) and its resume twin ``start_at_clustering.py:119-374``.
One SparkSession job graph replaces the Python<->Postgres<->multiprocess
topology; each stage checkpoints (sources/checkpoint.py) so any prefix can
be skipped with ``resume_from`` — the reference's stage-level
restartability, generalized.

Scale shape (the 100 TB story):
- extract runs once per page, Arrow-vectorized, then is checkpointed —
  the scan downstream reads (url, ntext, sig, simhash) only, never html.
- blocking emits ~(1 + bands_mh + bands_sh) keys/page: linear.
- the only quadratic danger is block fan-out: capped at
  ``max_block_size`` (canopy stop-word analog) + AQE skew-join.
- scoring is a native column expression — no Python between shuffle and
  shuffle; the pair shuffle carries ids only (hydration re-joins text).
- CC rounds are O(log^2 n) with per-round localCheckpoint.
"""

from __future__ import annotations

from dataclasses import asdict, dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions import hashing, keygen, normalize
from ..operators import blocking, clustering, pairs, scoring
from ..sources.checkpoint import STAGES, CheckpointStore

# word 3-gram shingles feed both signature families; 4 simhash bands key
# the dom_sh predicate (fixed: no caller tunes either)
SHINGLE_WORDS = 3
SIMHASH_BANDS = 4


@dataclass
class PipelineConfig:
    """The 'settings file' (dedupe/api.py:1069-1086) as plain data."""

    # 8 bands x 8 rows: P(co-block) = 1-(1-s^8)^8 = 0.99 at Jaccard 0.9,
    # 0.07 at Jaccard 0.5 — near-dups caught, template noise rejected.
    # (16x4 was ~0.65 at s=0.5: ~22 candidate pairs/page at 200k pages,
    # which is the quadratic blow-up the block cap exists to prevent.)
    minhash_perms: int = 64
    minhash_bands: int = 8
    minhash_rows: int = 8
    # engine-portable hash family (functions/portable.py): md5-derived
    # minhash/simhash, zero-UDF Catalyst expressions, every signature
    # recomputable by the DuckDB oracle. Slower constants than the
    # xxhash64+Arrow fast path — the correctness-gate configuration, not
    # the bench one. Use 16 perms / 8x2 banding with it.
    portable_hashing: bool = False
    max_block_size: int = 100
    score_threshold: float = 0.5
    lang_filter: str | None = None
    model: dict = field(
        default_factory=lambda: scoring.LogisticModel().to_dict()
    )

    def params(self) -> dict:
        return asdict(self)


class DedupePipeline:
    """Stage methods are pure DataFrame transforms usable without a
    store (the streaming matcher reuses extract/signatures/block that
    way); only ``run`` — checkpoint + resume orchestration — needs one.
    """

    def __init__(self, config: PipelineConfig, store: CheckpointStore | None = None):
        self.cfg = config
        self.store = store

    # -- stages ---------------------------------------------------------------
    def extract(self, pages: DataFrame) -> DataFrame:
        """pages -> (url, warc_ts, lang, ntext), byte-identical per url.

        ``lang_filter`` (P1-analog person/type filter,
        campaign_finance_dedupe.py:154-159), then the one page-text
        chain :func:`normalize.with_ntext` (html fallback where ``text``
        is null, normalize_text, gated abbreviation canonicalization) —
        the same chain the ingest content key and the crawl match run,
        so every path agrees on a page's text. Runs once per page: the
        batch pipeline checkpoints this stage and the crawl
        localCheckpoints it per micro-batch.
        """
        if self.cfg.lang_filter:
            pages = pages.where(F.col("lang") == self.cfg.lang_filter)
        return normalize.with_ntext(pages).select("url", "warc_ts", "lang", "ntext")

    def signatures(self, extracted: DataFrame) -> DataFrame:
        """MinHash + SimHash signatures (plus the exact-dedup sha2 key)
        over checkpointed ntext.

        A separate checkpointed stage on purpose: reading ntext back from
        parquet stops Catalyst's projection collapse from inlining the
        (expensive) normalization chain into every signature expression —
        measured 4x on the extract+sign path at 40k pages.

        The stage's output deliberately does NOT carry ntext: every key
        the blocking stage needs (sha2 exact key, minhash bands, simhash
        bands, url domain) is derivable from the ~150 bytes/row emitted
        here, while ntext is ~1 KB/page of web text. Dropping it cuts the
        signatures write AND the blocking read ~7x — on the shared-memory
        sandbox that byte volume is exactly the contended resource (the
        2→8-core profile showed extract/signatures/block at 2.4-3.0x for
        4x cores while the compute-bound stages hit 3.7-4.1x), and on a
        real cluster it is shuffle-free but still object-store I/O.
        Downstream hydration (score, cluster) re-joins ntext from the
        extract checkpoint by url — the J2 ids-only pattern applied to
        the stage boundary.
        """
        return self.with_signatures(extracted).select(
            "url", "warc_ts", "lang", "exact_key", "sig", "simhash"
        )

    def with_signatures(self, df: DataFrame) -> DataFrame:
        """``df`` (any rows with url and ntext) plus the signature
        columns exact_key, sig and simhash: the signatures stage before
        its projection. The crawl signs its novel rows this way, so
        ntext rides beside the keys into incremental.match_batch."""
        cfg = self.cfg
        df = df.withColumn("exact_key", F.sha2(F.col("ntext"), 256))
        if cfg.portable_hashing:
            from ..functions import portable

            shingles = keygen.word_ngrams(F.col("ntext"), SHINGLE_WORDS)
            return df.withColumns({
                "sig": portable.minhash_sig(shingles, cfg.minhash_perms),
                "simhash": portable.simhash32(shingles),
            })
        # fast family: token-hash-combined shingle ids — no gram strings
        # ever materialize JVM-side (see hashing.word_ngram_hashes)
        fused = hashing.minhash_simhash_udf(cfg.minhash_perms)(
            hashing.word_ngram_hashes(F.col("ntext"), SHINGLE_WORDS)
        )
        return df.withColumn("_s", fused).withColumns({
            "sig": F.col("_s.sig"), "simhash": F.col("_s.simhash"),
        }).drop("_s")

    def predicates(self) -> dict:
        cfg = self.cfg
        if cfg.portable_hashing:
            from ..functions import portable

            mh = portable.minhash_band_keys(
                F.col("sig"), cfg.minhash_bands, cfg.minhash_rows
            )
            sh = portable.simhash_band_keys(
                F.col("simhash"), bands=SIMHASH_BANDS, bits=32
            )
        else:
            mh = hashing.minhash_band_keys(
                F.col("sig"), bands=cfg.minhash_bands, rows=cfg.minhash_rows
            )
            sh = hashing.simhash_band_keys(F.col("simhash"), bands=SIMHASH_BANDS)
        return {
            "exact": F.when(
                F.col("exact_key").isNull(), F.array().cast("array<string>")
            ).otherwise(F.array(F.col("exact_key"))),
            "mh": mh,
            "dom_sh": keygen.compound(keygen.domain_key(F.col("url")), sh),
        }

    def block(self, extracted: DataFrame) -> DataFrame:
        """Blocking map (block_key, record_id), capped at ``max_block_size``.

        The fast family compacts each string key ("mh|<band>|<hex>",
        "dom_sh|<domain>|<band>", ~30-60 bytes) to its 64-bit xxhash64
        before the cap. Keys are only ever compared for equality
        downstream (cap count, pair self-join), so the 8-byte stand-in
        carries the same blocks at ~1/5 the bytes through both shuffles
        of the map and the stage checkpoint; the block stage is the
        most bandwidth-bound after signatures (BASELINE.md round-4
        telemetry). A collision merges two blocks (~26M keys in a 64-bit
        space: P(any) ~ 2e-5 at 2M pages), which only adds candidate
        pairs that scoring rejects and never drops a true pair. The
        portable family keeps the strings so the DuckDB oracle can
        recompute every key (functions/portable.py contract).
        """
        bm = blocking.build_blocking_map(extracted, "url", self.predicates())
        if not self.cfg.portable_hashing:
            bm = bm.select(
                F.xxhash64("block_key").alias("block_key"), "record_id"
            )
        return blocking.cap_blocks(bm, self.cfg.max_block_size)

    def gen_pairs(self, blocking_map: DataFrame) -> DataFrame:
        return pairs.candidate_pairs(blocking_map)

    def score(self, cand: DataFrame, extracted: DataFrame) -> DataFrame:
        hyd = pairs.hydrate_pairs(cand, extracted.select("url", "ntext"), "url", ["ntext"])
        feat = scoring.with_features(hyd, "ntext_a", "ntext_b")
        model = scoring.LogisticModel.from_dict(self.cfg.model)
        return scoring.score_pairs(feat, model).select("src", "dst", "score")

    def cluster(self, scored: DataFrame, records: DataFrame) -> DataFrame:
        # materialize the CC map once: split_oversize's emptiness probe
        # and the stage's checkpoint write both consume it, and without a
        # checkpoint each one re-evaluates the CC-label + confidence join
        cl = clustering.cluster_edges(
            scored, threshold=self.cfg.score_threshold
        ).localCheckpoint()
        cl = clustering.split_oversize_components(
            scored, cl, self.cfg.score_threshold
        )
        return clustering.add_singletons(records, "url", cl)

    # -- orchestration ----------------------------------------------------------
    def run(
        self,
        spark: SparkSession,
        pages: DataFrame,
        resume_from: str | None = None,
    ) -> DataFrame:
        """Execute all stages with checkpoint + resume.

        ``resume_from=<stage>`` reads back every stage before ``<stage>``
        whose checkpoint exists under the same params and recomputes the
        rest (start_at_clustering semantics): ``resume_from='pairs'``
        reuses extract, signatures and block when all three are on disk.
        """
        if self.store is None:
            raise ValueError("DedupePipeline.run requires a CheckpointStore")
        p = self.cfg.params()
        start = STAGES.index(resume_from) if resume_from else 0

        def stage(idx: int, name: str, build):
            if idx < start and self.store.has(name, p):
                return self.store.read(spark, name)
            # job group = stage name: attributes this stage's Spark jobs
            # in the UI/REST so per-stage executor telemetry
            # (tools/stage_telemetry.py: task retries, GC, CPU-vs-wall)
            # can be aggregated per pipeline stage; cleared afterwards so
            # untagged work (run stats, caller actions) stays outside
            sc = spark.sparkContext
            sc.setJobGroup(f"pipeline:{name}", f"pipeline stage {name}")
            try:
                df = build()
                return self.store.write(df, name, params=p)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)

        extracted = stage(0, "extract", lambda: self.extract(pages))
        signed = stage(1, "signatures", lambda: self.signatures(extracted))
        bm = stage(2, "block", lambda: self.block(signed))
        cand = stage(3, "pairs", lambda: self.gen_pairs(bm))
        scored = stage(4, "score", lambda: self.score(cand, extracted))
        entity_map = stage(5, "cluster", lambda: self.cluster(scored, extracted))
        # entity_map=None: aggregate the params-validated cluster checkpoint
        self.store.write_run_stats(params=p, spark=spark)
        return entity_map
