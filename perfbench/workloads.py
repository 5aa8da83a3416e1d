"""The benchmark's workloads.

Each workload builds its input from the seed during set-up (repeatable:
a run may set up several times and report the median), warms up with one
untimed call, and then exposes one timed call
(``run_call``), an off-the-clock correctness check of that call's output
(``check``), and a traced variant of the call (``traced_call``) that
also returns per-layer numbers. Timed output always goes to a full-width
``noop`` sink, never ``count()``: column pruning under ``count()``
deletes part of the operator being timed.
"""

from __future__ import annotations

import shutil
import statistics
import time
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql import Observation

from ny_campaign_finance_dedupe_spark.operators import bloom, dedup
from ny_campaign_finance_dedupe_spark.plans.evaluate import clusters_to_pairs
from ny_campaign_finance_dedupe_spark.plans.pipeline import (
    DedupePipeline,
    PipelineConfig,
)
from ny_campaign_finance_dedupe_spark.sources.checkpoint import (
    STAGES,
    CheckpointStore,
)
from ny_campaign_finance_dedupe_spark.streaming import crawl, incremental, ingest
from ny_campaign_finance_dedupe_spark.synth import PAGES_SCHEMA, synth_pages, true_pairs

import tracing

#: Seed offsets that keep warm-up and "fresh page" inputs disjoint from
#: the measured input of the same seed.
WARM_SEED = 1_000_003
FRESH_SEED = 2_000_003


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn, *args):
    t = time.perf_counter()
    out = fn(*args)
    return out, time.perf_counter() - t


def dir_bytes(root: Path) -> int:
    return sum(f.stat().st_size for f in root.rglob("*") if f.is_file())


class Workload:
    """Set-up state plus the timed call of one workload."""

    #: input pages (or docs) one timed call processes
    pages = 0
    #: most timed calls the planted input supports (None: no limit)
    max_calls: int | None = None
    #: set-ups per untraced run; setup_s takes their median. Only the
    #: first runs on a cold JVM, so the median is the set-up work itself
    setups = 3

    def __init__(self, spark, seed: int, scratch: Path):
        self.spark = spark
        self.seed = seed
        self.scratch = scratch
        #: synth input partitions: one generator task per core
        self.parts = spark.sparkContext.defaultParallelism
        #: what the checks measured besides time: end-to-end values the
        #: report prints and per-layer counts (names as in BENCHMARK.json)
        self.extra: dict[str, float] = {}

    def setup(self) -> dict[str, float]:
        """Build and materialize the input, replacing that of an earlier
        set-up; returns per-layer set-up numbers (e.g. ``crawl.index_s``)."""
        return {}

    def warmup(self) -> None: ...

    def call(self, i: int):
        """One timed call; returns a handle for ``check``/``release``."""
        raise NotImplementedError

    def run_call(self, i: int):
        """``call`` on the clock -> (handle, seconds)."""
        return timed(self.call, i)

    def check(self, handle) -> list[str]:
        """Correctness errors of one call's output (off the clock)."""
        return []

    def release(self, handle) -> None: ...

    def traced_call(self, i: int):
        """``call`` under tracing -> (handle, seconds, per-layer numbers)."""
        raise NotImplementedError


# -- er_batch ----------------------------------------------------------------------
class ErBatch(Workload):
    """``DedupePipeline.run`` over default ``synth_pages``."""

    # a call's fixed cost (jobs, checkpoints) is ~4 s: 10k -> 20k pages
    # took 5.5 -> 7 s. 20k pages cost the traced run's two passes of the
    # dedup kernels more than the run budget had left
    pages = 10_000
    warm_pages = 2_000

    def __init__(self, spark, seed, scratch):
        super().__init__(spark, seed, scratch)
        self.cfg = PipelineConfig()
        self.ckpt_bytes: list[float] = []
        self.f1: float | None = None

    def setup(self):
        if hasattr(self, "input"):
            self.input.unpersist()
        pages, self.entities = synth_pages(
            self.spark, n_pages=self.pages, seed=self.seed,
            partitions=self.parts,
        )
        self.input = pages.persist()
        n = self.input.count()
        if n != self.pages:
            raise RuntimeError(f"synth_pages returned {n} pages")
        return {}

    def warmup(self):
        # the same plan shapes at a small size: the first full-size call
        # after it ran about as fast as after a full-size warm-up (~10-15%
        # above the next call either way), for ~2/3 of the cost
        warm, _ = synth_pages(
            self.spark, n_pages=self.warm_pages, seed=self.seed + WARM_SEED,
            partitions=self.parts,
        )
        warm = warm.persist()
        store = CheckpointStore(str(self.scratch / "warm"))
        noop(DedupePipeline(self.cfg, store).run(self.spark, warm))
        self.release((store,))
        warm.unpersist()

    def _run(self, store):
        """-> handle (store, entity map, errors found while tracing)."""
        em = DedupePipeline(self.cfg, store).run(self.spark, self.input)
        noop(em)
        return store, em, []

    def call(self, i):
        return self._run(CheckpointStore(str(self.scratch / f"store{i}")))

    def check(self, handle):
        store, em, errors = handle
        row = em.agg(
            F.count("*").alias("n"), F.countDistinct("record_id").alias("d")
        ).first()
        missing = (
            self.input.select(F.col("url").alias("record_id"))
            .join(em, "record_id", "left_anti")
            .count()
        )
        if not (row["n"] == row["d"] == self.pages and missing == 0):
            errors.append(
                f"entity map has {row['n']} rows, {row['d']} distinct urls, "
                f"{missing} input urls missing; want one row per url "
                f"({self.pages})"
            )
        self.ckpt_bytes.append(dir_bytes(store.root) / self.pages)
        if self.f1 is None:
            self.f1 = self._pairwise_f1(em)
        self.extra = {
            "pairwise_f1": self.f1,
            "checkpoint_bytes_per_page": statistics.median(self.ckpt_bytes),
        }
        return errors

    def _pairwise_f1(self, em) -> float:
        pred = clusters_to_pairs(em.select("record_id", "cluster_id")).persist()
        truth = true_pairs(self.entities).select(
            F.col("url_a").alias("src"), F.col("url_b").alias("dst")
        ).persist()
        tp = pred.join(truth, ["src", "dst"], "left_semi").count()
        n_pred, n_true = pred.count(), truth.count()
        pred.unpersist()
        truth.unpersist()
        prec, rec = tp / max(n_pred, 1), tp / max(n_true, 1)
        return 2 * prec * rec / max(prec + rec, 1e-12)

    def release(self, handle):
        shutil.rmtree(handle[0].root, ignore_errors=True)

    def traced_call(self, i):
        spark = self.spark
        groups = {st: f"pipeline:{st}" for st in STAGES}
        jobs0 = {st: tracing.job_ids(spark, g) for st, g in groups.items()}
        exec0 = tracing.exec_metrics(spark)
        prof = tracing.UdfProfile(spark, self.scratch / "profile")
        store = tracing.SpanStore(str(self.scratch / f"store{i}"))
        prof.start()
        t0 = time.perf_counter()
        store.t_start = t0
        handle = self._run(store)
        wall = time.perf_counter() - t0
        udf = prof.stop()
        execd = tracing.exec_metrics_delta(exec0, tracing.exec_metrics(spark))
        jobs = {
            st: tracing.job_ids(spark, g) - jobs0[st] for st, g in groups.items()
        }
        spans = store.stage_spans()
        m = {"trace.wall_s": wall}
        for st in STAGES:
            ex = execd.get(st, {})
            m[f"{st}.s"] = spans.get(st, 0.0)
            m[f"{st}.jobs"] = len(jobs[st])
            m[f"{st}.gc_s"] = ex.get("gc_s", 0.0)
            m[f"{st}.spill_b"] = ex.get("spill_mb", 0.0) * 1e6
        m["extract.udf_s"] = udf.get("extract", 0.0)
        m["signatures.udf_s"] = udf.get("signatures", 0.0)
        m["score.cpu_s"] = execd.get("score", {}).get("cpu_s", 0.0)
        m["pipeline.unattributed_s"] = wall - sum(spans.values())
        m["run_stats.s"] = store.run_stats_s
        m["checkpoint.write_s"] = store.write_s
        # off the clock: row counts from the checkpoint layer's lineage
        runs = store.match_runs(spark).where(F.col("run_id") == store.run_id)
        rows = {
            r["stage"]: r["rows"]
            for r in runs.groupBy("stage").agg(F.sum("rows_out").alias("rows")).collect()
        }
        for st in ("block", "pairs"):
            m[f"{st}.rows_out"] = rows.get(st, 0)
            m[f"{st}.shuffle_b"] = tracing.shuffle_write_bytes(spark, jobs[st])
        useful = (
            store.read(spark, "score")
            .where(F.col("score") >= self.cfg.score_threshold)
            .count()
        )
        m["score.useful_ratio"] = useful / max(rows.get("pairs", 0), 1)
        m["cluster.max_component"] = (
            handle[1].groupBy("cluster_id").count().agg(F.max("count")).first()[0]
        )
        # the dedup layer's pair kernels, over this workload's pages
        docs = as_docs(self.input).persist()
        warm, _ = synth_pages(
            spark, n_pages=NeardupKernels.warm_size, seed=self.seed + WARM_SEED,
            partitions=self.parts,
        )
        kernels = NeardupKernels(spark, docs, as_docs(warm))
        kernels.warmup()
        m.update(kernels.traced_pass())
        handle[2].extend(kernels.check())
        docs.unpersist()
        return handle, wall, m


# -- near-dup pair kernels (traced on er_batch's pages) ----------------------------
KERNELS = ("minhash", "simhash", "winnow", "ngram", "editdist")


def kernel(name: str, docs, n_docs: int):
    """The five ``operators.dedup`` pair kernels, as the repo's headline
    bench deploys them (fast hash family, gate geometry)."""
    cap = dedup.default_df_cap(n_docs)
    if name == "minhash":
        return dedup.minhash_candidate_pairs(docs, "doc_id", "text", est_threshold=0.5)
    if name == "simhash":
        return dedup.simhash_near_pairs(docs, "doc_id", "text", max_hamming=3)
    if name == "winnow":
        return dedup.winnow_jaccard_pairs(
            docs, "doc_id", "text", k=16, w=8, threshold=0.5, df_cap=cap,
            family="fast",
        )
    if name == "ngram":
        return dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.8, df_cap=cap
        )
    if name == "editdist":
        return dedup.edit_distance_pairs(docs, "doc_id", "text", key_len=12, max_dist=1)
    raise ValueError(name)


def as_docs(pages):
    """pages -> (doc_id, text): the page number of the synth url as id."""
    return pages.where(F.col("text").isNotNull()).select(
        F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long").alias("doc_id"),
        "text",
    )


class NeardupKernels:
    """The five pair kernels over one docs table: a warm-up at a small
    size, a traced pass (each kernel to a noop sink under its own job
    group, its row count and src >= dst rows observed in the same pass)
    and an independent second pass that checks the output."""

    group = "perfbench:dedup."
    warm_size = 500  # synth pages behind the warm-up docs

    def __init__(self, spark, docs, warm_docs):
        self.spark = spark
        self.docs = docs
        self.warm_docs = warm_docs

    def warmup(self) -> None:
        n = self.warm_docs.count()
        for k in KERNELS:
            out = kernel(k, self.warm_docs, n)
            noop(out)
            dedup.release(out)

    def traced_pass(self) -> dict[str, float]:
        spark = self.spark
        n = self.docs.count()
        m, self.rows, self.bad = {}, {}, {}
        for k in KERNELS:
            jobs0 = tracing.job_ids(spark, self.group + k)
            obs = Observation(f"dedup_{k}")
            t = time.perf_counter()
            out = kernel(k, self.docs, n)
            with tracing.job_group(spark, self.group + k):
                noop(out.observe(
                    obs,
                    F.count(F.lit(1)).alias("rows"),
                    F.coalesce(
                        F.sum((F.col("src") >= F.col("dst")).cast("long")), F.lit(0)
                    ).alias("bad"),
                ))
            m[f"dedup.{k}_s"] = time.perf_counter() - t
            dedup.release(out)
            jobs = tracing.job_ids(spark, self.group + k) - jobs0
            self.rows[k], self.bad[k] = obs.get["rows"], obs.get["bad"]
            m[f"dedup.{k}.rows_out"] = self.rows[k]
            m[f"dedup.{k}.shuffle_b"] = tracing.shuffle_write_bytes(spark, jobs)
        return m

    def check(self) -> list[str]:
        """src < dst, no duplicate pairs, and the same row count when the
        kernel runs again on the same docs."""
        n = self.docs.count()
        errors = []
        for k in KERNELS:
            if self.bad[k]:
                errors.append(f"dedup {k}: {self.bad[k]} pairs with src >= dst")
            out = kernel(k, self.docs, n)
            r = out.agg(
                F.count("*").alias("n"), F.count_distinct("src", "dst").alias("d")
            ).first()
            dedup.release(out)
            if r["n"] != self.rows[k]:
                errors.append(f"dedup {k}: {self.rows[k]} rows, then {r['n']} on a rerun")
            if r["d"] != r["n"]:
                errors.append(f"dedup {k}: {r['n'] - r['d']} duplicate pairs")
        return errors


# -- crawl_ticks -------------------------------------------------------------------
PAGE_COLS = crawl.PAGE_COLS
#: Pages of each kind in one tick. The proportions are synth_pages'
#: defaults: a page copies an earlier entity with dup_rate = 0.45, and one
#: copy in six (mutation kind 0 of six) is byte-exact, the others near-dups;
#: so 55% fresh, 37.5% near-dups, 7.5% exact copies. How the exact copies
#: split over their anchor (a history page, a page of this tick, a page of
#: the previous tick) has no source: the even split is an assumption.
MIX = {"fresh": 110, "mutant": 75, "recrawl": 5, "mirror": 5, "echo": 5}
_ARROW_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


class CrawlTicks(Workload):
    """Ticks of new pages drained by ``start_crawl_pipeline`` against an
    indexed synth history."""

    history_pages = 2_000
    max_calls = 8  # ticks planted for the timed loop
    # one set-up: a warm one costs ~9 s (the two history indexes), and
    # two more would overrun the run budget of the whole measurement
    setups = 1

    pages = sum(MIX.values())

    def __init__(self, spark, seed, scratch):
        super().__init__(spark, seed, scratch)
        self.cfg = PipelineConfig()
        self.dirs = {
            d: scratch / "crawl" / d for d in ("stage", "src", "ckpt", "out")
        }
        self.planted: dict[int, dict[str, list[str]]] = {}
        self.tick_s: list[float] = []
        self.counts = {"suppressed": 0, "adopted": 0, "founded": 0}
        self.persisted = []

    def setup(self):
        spark = self.spark
        for df in self.persisted:
            df.unpersist()
        hist, _ = synth_pages(
            spark, n_pages=self.history_pages, seed=self.seed, partitions=self.parts
        )
        self.history = hist.persist()
        self.history.count()
        t = time.perf_counter()
        keys, bidx = crawl.build_history_index(self.history)
        self.keys = keys.persist()
        self.bloom_index = bidx.persist()
        self.index = incremental.build_index(self.history, self.cfg).persist()
        for df in (self.keys, self.bloom_index, self.index):
            df.count()
        index_s = time.perf_counter() - t
        self.persisted = [self.history, self.keys, self.bloom_index, self.index]
        # planting pools: history pages with text, in a seeded order, and
        # fresh synth pages from a disjoint seed (no planted duplicates)
        hist_rows = self.history.select("url", "text").toPandas()
        self.history_urls = set(hist_rows.url)
        ticks = self.max_calls + 1  # and the warm-up tick
        need = ticks * (MIX["recrawl"] + MIX["mutant"])
        with_text = hist_rows.dropna(subset=["text"]).sort_values("url")
        if len(with_text) < need:
            raise RuntimeError(f"history has {len(with_text)} pages with text, need {need}")
        order = np.random.default_rng(self.seed).permutation(len(with_text))
        self.pool = with_text.iloc[order[:need]].reset_index(drop=True)
        # one slot of fresh pages per tick, plus one that tick 0 echoes
        need = (ticks + 1) * MIX["fresh"]
        fresh, _ = synth_pages(
            spark, n_pages=need + need // 10, seed=self.seed + FRESH_SEED,
            dup_rate=0.0, partitions=self.parts,
        )
        self.fresh = (
            fresh.where(F.col("text").isNotNull()).select("text").toPandas()
        )
        if len(self.fresh) < need:
            raise RuntimeError(f"{len(self.fresh)} fresh pages, need {need}")
        for d in self.dirs.values():
            d.mkdir(parents=True, exist_ok=True)
        return {"crawl.index_s": index_s}

    def _fresh(self, tick: int) -> list[str]:
        f = MIX["fresh"]
        return self.fresh.text.iloc[(tick + 1) * f: (tick + 2) * f].tolist()

    def _tick_pages(self, tick: int) -> pd.DataFrame:
        """Tick ``tick``, MIX pages of each kind:

        - fresh: a page of a never-seen entity
        - mutant: a history page with one word transposition plus one
          tick-unique token (a near-dup that can never equal any
          history content)
        - recrawl: a history page's exact text under a new url
        - mirror: a byte-identical copy of a fresh page of this tick
        - echo: a byte-identical copy of a fresh page of the previous
          tick (novel against the history index, but already seen)
        """
        n_hist = MIX["recrawl"] + MIX["mutant"]
        rng = np.random.default_rng((self.seed << 8) ^ tick)
        hist = self.pool.text.iloc[tick * n_hist: (tick + 1) * n_hist].tolist()
        fresh = self._fresh(tick)
        rows, planted = [], {k: [] for k in MIX}

        def add(kind, i, text):
            url = f"https://{kind}{tick}.example.com/t/{i:05d}"
            rows.append((url, text))
            planted[kind].append(url)

        for i, text in enumerate(fresh):
            add("fresh", i, text)
        for i, text in enumerate(hist[: MIX["mutant"]]):
            w = text.split()
            j = int(rng.integers(0, len(w) - 1))
            w[j], w[j + 1] = w[j + 1], w[j]
            w.insert(int(rng.integers(0, len(w))), f"tick{tick}mut{i}")
            add("mutant", i, " ".join(w))
        for i, text in enumerate(hist[MIX["mutant"]:]):
            add("recrawl", i, text)
        for i, text in enumerate(fresh[: MIX["mirror"]]):
            add("mirror", i, text)
        m = MIX["mirror"]  # echoes copy other pages than the mirrors did
        for i, text in enumerate(self._fresh(tick - 1)[m: m + MIX["echo"]]):
            add("echo", i, text)
        pdf = pd.DataFrame(rows, columns=["url", "text"])
        pdf["warc_ts"] = pd.Timestamp("2026-02-01", tz="UTC") + pd.Timedelta(
            hours=tick
        )
        pdf["html"] = [
            f"<html><body><p>{t}</p></body></html>".encode() for t in pdf.text
        ]
        pdf["lang"] = "en"
        self.planted[tick] = planted
        return pdf[PAGE_COLS]

    def _stage(self, name: str, pdf: pd.DataFrame) -> Path:
        path = self.dirs["stage"] / f"{name}.parquet"
        pq.write_table(
            pa.Table.from_pandas(pdf, schema=_ARROW_SCHEMA, preserve_index=False),
            str(path),
        )
        return path

    def _start(self, src, ckpt, out):
        return crawl.start_crawl_pipeline(
            self.spark, str(src), self.keys, self.bloom_index, self.index,
            self.cfg, str(out), str(ckpt), PAGES_SCHEMA,
        )

    def warmup(self):
        base = self.scratch / "crawl_warm"
        dirs = [base / d for d in ("src", "ckpt", "out")]
        dirs[0].mkdir(parents=True, exist_ok=True)
        # the tick number after those the timed calls can use
        warm = self.max_calls
        staged = self._stage(f"warm{warm}", self._tick_pages(warm))
        staged.rename(dirs[0] / staged.name)
        self._start(*dirs).awaitTermination()
        del self.planted[warm]
        shutil.rmtree(base, ignore_errors=True)

    def _land(self, tick):
        """Stage tick ``tick`` off the clock; landing it is the rename."""
        return self._stage(f"tick{tick:03d}", self._tick_pages(tick))

    def _tick(self, staged: Path):
        t = time.perf_counter()
        staged.rename(self.dirs["src"] / staged.name)
        q = self._start(self.dirs["src"], self.dirs["ckpt"], self.dirs["out"])
        q.awaitTermination()
        return q, time.perf_counter() - t

    def run_call(self, i):
        """(staging off the clock, tick on the clock) -> (handle, seconds)."""
        staged = self._land(i)
        q, dt = self._tick(staged)
        self.tick_s.append(dt)
        return (i, q), dt

    def check(self, handle):
        tick, _ = handle
        out = self.spark.read.parquet(str(self.dirs["out"])).toPandas()
        errors = []
        if out.record_id.duplicated().any():
            errors.append(
                f"{int(out.record_id.duplicated().sum())} record ids repeat across ticks"
            )
        planted = self.planted[tick]
        tick_urls = {u for urls in planted.values() for u in urls}
        rows = out[out.record_id.isin(tick_urls)]
        suppressed = tick_urls - set(rows.record_id)
        if suppressed != set(planted["recrawl"]):
            errors.append(
                f"tick {tick}: suppressed {len(suppressed)} pages, planted "
                f"{len(planted['recrawl'])} re-crawls; "
                f"{len(suppressed ^ set(planted['recrawl']))} differ"
            )
        mut = rows[rows.record_id.isin(planted["mutant"])]
        bad = mut[
            ~(mut.cluster_id.isin(self.history_urls) | (mut.cluster_id == mut.record_id))
        ]
        if len(bad):
            errors.append(
                f"tick {tick}: {len(bad)} near-dups neither adopted a history "
                "url nor founded themselves"
            )
        self.counts["suppressed"] += len(suppressed)
        self.counts["adopted"] += int(rows.matched.sum())
        self.counts["founded"] += int((~rows.matched).sum())
        founded = out[~out.matched & (out.cluster_id == out.record_id)]
        per_key = founded.groupby("exact_key").size()
        # the streaming path never collapses identical novel pages, within
        # a tick (mirror) or across ticks (echo): ROADMAP open item 2.
        # Count, do not assert.
        self.extra = {
            "tick_p50_s": statistics.median(self.tick_s),
            "crawl.identical_split": int((per_key > 1).sum()),
            **{f"crawl.{k}": v for k, v in self.counts.items()},
        }
        return errors

    def traced_call(self, i):
        spark = self.spark
        staged = self._land(i)
        prof = tracing.UdfProfile(spark, self.scratch / "profile")
        prof.start()
        q, wall = self._tick(staged)
        udf = prof.stop()
        prog = q.recentProgress
        m = {
            "trace.wall_s": wall,
            "extract.udf_s": udf.get("extract", 0.0),
            "signatures.udf_s": udf.get("signatures", 0.0),
            "tick.stream_overhead_s": sum(
                (p["durationMs"].get("triggerExecution", 0)
                 - p["durationMs"].get("addBatch", 0)) / 1e3
                for p in prog
            ),
        }
        # the tick's layers called again on the same file, each to a noop
        # sink, with the package's default (size-gated) probe strategy:
        # the novelty step alone, then the whole per-batch body; the match
        # step is the difference
        batch = spark.read.schema(PAGES_SCHEMA).parquet(
            str(self.dirs["src"] / staged.name)
        )
        keyed = ingest.with_content_key(batch)
        with tracing.job_group(spark, "perfbench:tick.novelty"):
            _, m["tick.novelty_s"] = timed(lambda: noop(bloom.novel_rows(
                keyed, "exact_key", self.keys, self.bloom_index
            )))
        with tracing.job_group(spark, "perfbench:tick.batch"):
            _, batch_s = timed(lambda: noop(crawl.match_novel_batch(
                batch, self.keys, self.bloom_index, self.index, self.cfg
            )))
        m["tick.match_s"] = batch_s - m["tick.novelty_s"]
        flagged = bloom.bloom_probe(
            keyed, self.bloom_index, F.col("exact_key")
        ).where(F.col("bloom_maybe")).persist()
        m["bloom.positive"] = flagged.count()
        m["bloom.false_positive"] = flagged.join(
            self.keys, "exact_key", "left_anti"
        ).count()
        flagged.unpersist()
        return (i, q), wall, m
