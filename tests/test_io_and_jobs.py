"""S-family sources/sinks + the spark-submit job entrypoint."""

import json
import subprocess
import sys
from pathlib import Path

import pyspark.sql.functions as F

from ny_campaign_finance_dedupe_spark.operators.scoring import LogisticModel
from ny_campaign_finance_dedupe_spark.sources import io as nio

ROOT = Path(__file__).resolve().parent.parent


def test_read_fixed_csv_latin1(spark, tmp_path):
    p = tmp_path / "raw.csv"
    p.write_bytes("1,caf\xe9,x\n2,b,y\n".encode("latin-1"))
    df = nio.read_fixed_csv(
        spark, str(p), ["id", "name", "flag"], encoding="latin-1"
    )
    rows = {r["id"]: r["name"] for r in df.collect()}
    assert rows == {"1": "café", "2": "b"}


def test_read_fixed_csv_unicode_escape(spark, tmp_path):
    # all_txt_to_csv.py dump shape: ASCII bytes carrying \uXXXX escapes
    p = tmp_path / "esc.csv"
    p.write_bytes(b"1,caf\\xe9,x\n2,\\u00dcber,y\n")
    df = nio.read_fixed_csv(
        spark, str(p), ["id", "name", "flag"], encoding="unicode_escape"
    )
    rows = {r["id"]: r["name"] for r in df.collect()}
    assert rows == {"1": "café", "2": "Über"}


def test_csv_snapshot_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    out = tmp_path / "snap"
    nio.write_csv_snapshot(df, str(out))
    back = spark.read.option("header", True).csv(str(out))
    assert {(r["k"], r["v"]) for r in back.collect()} == {("1", "a"), ("2", "b")}


def test_model_artifact_roundtrip(tmp_path):
    m = LogisticModel()
    path = tmp_path / "settings.json"
    nio.save_model_artifact(str(path), m.to_dict(), {"threshold": 0.5})
    model, params = nio.load_model_artifact(str(path))
    assert LogisticModel.from_dict(model).weights == m.weights
    assert params == {"threshold": 0.5}


def test_training_pairs_roundtrip(spark, tmp_path):
    p = tmp_path / "training.json"
    p.write_text(json.dumps({"match": [["u2", "u1"]], "distinct": [["u3", "u4"]]}))
    df = nio.read_training_pairs(spark, str(p))
    rows = {(r["url_a"], r["url_b"], r["label"]) for r in df.collect()}
    assert rows == {("u1", "u2", 1), ("u3", "u4", 0)}
    out = tmp_path / "out.json"
    nio.write_training_pairs(df, str(out))
    assert json.loads(out.read_text()) == {
        "match": [["u1", "u2"]],
        "distinct": [["u3", "u4"]],
    }


def test_make_pyfiles_and_job_entrypoint(tmp_path):
    """Package the zip and run the spark-submit entrypoint end-to-end
    (python invocation stands in for spark-submit in local mode — the
    script only uses the session factory, no submit-only APIs)."""
    z = subprocess.run(
        [sys.executable, str(ROOT / "tools" / "make_pyfiles.py")],
        capture_output=True, text=True, check=True,
    )
    assert Path(z.stdout.strip()).exists()
    out = subprocess.run(
        [
            sys.executable, str(ROOT / "jobs" / "run_pipeline.py"),
            "--input", "synth:400",
            "--checkpoint-root", str(tmp_path / "ckpt"),
            "--output", str(tmp_path / "em"),
        ],
        capture_output=True, text=True, check=False, timeout=600,
        env={**__import__("os").environ, "SPARK_GRAFT_CPUS": "4"},
    )
    assert out.returncode == 0, out.stderr[-2000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["rows"] == 400
    assert res["cluster_stats"]["total_records"] == 400


# --- checkpoint store ---------------------------------------------------------

def test_checkpoint_read_pushes_filters(spark, tmp_path):
    """A data-column predicate on a checkpoint read through
    ``store.read`` reaches the parquet scan as a pushed filter."""
    import pyspark.sql.functions as F

    from ny_campaign_finance_dedupe_spark import synth
    from ny_campaign_finance_dedupe_spark.sources.checkpoint import (
        CheckpointStore,
    )

    store = CheckpointStore(str(tmp_path), run_id="prune")
    pages, _ = synth.synth_pages(spark, n_pages=200, seed=3)
    store.write(pages.select("url", "lang", "text"), "extract")

    back = store.read(spark, "extract")
    filtered = back.where(F.col("url") == "https://nosuch.example/")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "url" in pushed


def _jobs_in_group(spark, group, action) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_checkpoint_write_runs_no_extra_job(spark, tmp_path):
    """match_runs row counts come from the parquet footers and the
    read-back takes the written schema, so a checkpoint write runs
    exactly the jobs of a bare parquet write of the same frame: no
    count, no agg, no scan of the result, no schema inference."""
    from ny_campaign_finance_dedupe_spark import synth
    from ny_campaign_finance_dedupe_spark.sources.checkpoint import (
        CheckpointStore,
    )

    pages, _ = synth.synth_pages(spark, n_pages=300, seed=4)
    df = pages.select("url", "lang", "text").localCheckpoint()
    bare_path = str(tmp_path / "bare")
    bare = _jobs_in_group(
        spark,
        "ckpt-bare",
        lambda: df.write.mode("overwrite").parquet(bare_path),
    )
    store = CheckpointStore(str(tmp_path / "ckpt"), run_id="jobs")
    via_store = _jobs_in_group(
        spark, "ckpt-store", lambda: store.write(df, "extract")
    )
    assert bare >= 1
    assert via_store == bare
    rows = store.match_runs(spark).where("stage = 'extract'").collect()
    assert sum(r["rows_out"] for r in rows) == 300


def test_checkpoint_read_runs_no_job(spark, tmp_path):
    """A checkpoint read takes the schema its write recorded, so it runs
    no parquet schema-inference job, and run stats over the cluster
    checkpoint run the jobs they run over a caller's read-back. A marker
    without a schema counts as no checkpoint."""
    import json

    from ny_campaign_finance_dedupe_spark import synth
    from ny_campaign_finance_dedupe_spark.sources.checkpoint import (
        CheckpointStore,
    )

    store = CheckpointStore(str(tmp_path), run_id="read")
    pages, _ = synth.synth_pages(spark, n_pages=200, seed=9)
    em = pages.selectExpr("url AS record_id", "url AS cluster_id")
    p = {"v": 1}
    back = store.write(em, "cluster", params=p)
    assert _jobs_in_group(
        spark, "ckpt-read", lambda: store.read(spark, "cluster")
    ) == 0
    from_ckpt = _jobs_in_group(
        spark, "stats-ckpt", lambda: store.write_run_stats(params=p, spark=spark)
    )
    given = _jobs_in_group(
        spark, "stats-given", lambda: store.write_run_stats(back, params=p)
    )
    assert from_ckpt == given
    meta = store._meta_path("cluster")
    saved = json.loads(meta.read_text())
    del saved["schema"]
    meta.write_text(json.dumps(saved))
    assert not store.has("cluster")


def test_checkpoint_read_back_has_no_exchange(spark, tmp_path):
    """A checkpoint read (the write's read-back and a resume read) is a
    bare parquet scan: a small single-file stage is not repartitioned,
    so no consumer re-runs a shuffle the store put on top of it."""
    from ny_campaign_finance_dedupe_spark import synth
    from ny_campaign_finance_dedupe_spark.sources.checkpoint import (
        CheckpointStore,
    )

    store = CheckpointStore(str(tmp_path), run_id="scan")
    pages, _ = synth.synth_pages(spark, n_pages=100, seed=8)
    back = store.write(pages.select("url", "lang").coalesce(1), "extract")
    for got in (back, store.read(spark, "extract")):
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan


def test_cluster_stage_job_count(spark, tmp_path):
    """The cluster stage (build + checkpoint write) runs a pinned number
    of Spark jobs: connected components labels the url ids themselves,
    so no id map is checkpointed, joined back or relabelled, the
    checkpoint read-back infers no schema, and the score checkpoint is
    read without a repartition for each of its consumers to re-run."""
    from ny_campaign_finance_dedupe_spark import synth
    from ny_campaign_finance_dedupe_spark.plans.pipeline import (
        DedupePipeline,
        PipelineConfig,
    )
    from ny_campaign_finance_dedupe_spark.sources.checkpoint import (
        CheckpointStore,
    )

    pages, _ = synth.synth_pages(spark, n_pages=400, seed=6)
    store = CheckpointStore(str(tmp_path), run_id="jobs")
    pipe = DedupePipeline(PipelineConfig(), store)
    pipe.run(spark, pages)
    scored = store.read(spark, "score")
    extracted = store.read(spark, "extract")
    assert scored.where("score >= 0.5").count() > 0  # CC has edges to label
    n = _jobs_in_group(
        spark,
        "cluster-stage",
        lambda: store.write(pipe.cluster(scored, extracted), "cluster"),
    )
    assert n <= 9


def test_checkpoint_resume_with_partitioned_stage(spark, tmp_path):
    """A stage written once is reused by has()+read() with identical
    rows, and only under the params it was written with."""
    import pyspark.sql.functions as F

    from ny_campaign_finance_dedupe_spark import synth
    from ny_campaign_finance_dedupe_spark.sources.checkpoint import (
        CheckpointStore,
    )

    store = CheckpointStore(str(tmp_path), run_id="resume")
    pages, _ = synth.synth_pages(spark, n_pages=150, seed=5)
    df = pages.select("url", "lang")
    params = {"v": 1}
    n0 = store.write(df, "extract", params=params).count()
    assert store.has("extract", params)
    assert not store.has("extract", {"v": 2})
    assert store.read(spark, "extract").count() == n0


def test_resolve_master_defers_to_spark_submit():
    """session._resolve_master: defaults local[$SPARK_GRAFT_CPUS] when
    this process owns session creation, but returns None (leave the
    builder alone) under a spark-submit-owned gateway — an explicit
    .master() there would override the submitted cluster topology
    (verified live: spark-submit --master local-cluster[2,1,2048]
    granted 2x1-core executors through StandaloneSchedulerBackend)."""
    from ny_campaign_finance_dedupe_spark.session import _resolve_master

    assert _resolve_master("local[4]", {}) == "local[4]"
    assert _resolve_master(None, {"SPARK_GRAFT_CPUS": "8"}) == "local[8]"
    assert _resolve_master(None, {}) == "local[*]"
    assert _resolve_master(None, {"PYSPARK_GATEWAY_PORT": "51234"}) is None
    # explicit master wins even under a gateway (tools that intentionally
    # build local-cluster sessions from plain python)
    assert (
        _resolve_master("local-cluster[2,1,2048]", {"PYSPARK_GATEWAY_PORT": "1"})
        == "local-cluster[2,1,2048]"
    )


def test_entity_map_identical_across_topologies(spark, tmp_path):
    """The pipeline's entity map must be CONTENT-identical between a
    threads-in-one-JVM run and a genuine multi-executor-JVM run (real
    RPC + Netty shuffle) — no hidden single-JVM assumption. Both
    topologies run in subprocesses via the scaling tools' --worker mode
    (a second SparkContext cannot coexist with the fixture session) and
    the order-insensitive cluster-assignment hash is compared."""
    import json
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def run(tool, extra):
        out = subprocess.run(
            [sys.executable, os.path.join(root, "tools", tool),
             "--worker", "--pages", "2000", "--seed", "11", *extra],
            capture_output=True, text=True, timeout=420,
        )
        line = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
        assert out.returncode == 0 and line.startswith("{"), out.stderr[-2000:]
        return json.loads(line)

    threads = run("scaling_bench.py", ["--cores", "2"])
    cluster = run(
        "cluster_scaling_bench.py", ["--execs", "2", "--exec-mem-mb", "1024"]
    )
    assert threads["entity_map_rows"] == cluster["entity_map_rows"] == 2000
    assert threads["entity_map_hash"] == cluster["entity_map_hash"]


def test_scaling_worker_stage_telemetry():
    """The scaling worker's per-stage executor telemetry (UI REST,
    tools/stage_telemetry.py) must cover every pipeline stage with
    consistent units: run_s > 0, 0 < cpu_s (CPU can exceed run on
    multi-threaded codegen but not by orders of magnitude), zero failed
    tasks on a healthy run. This is the instrument that adjudicates the
    recurring signatures-at-hi anomaly (BASELINE.md): steal inflates
    run_s with cpu_s flat; worker death shows as failed_tasks."""
    import json
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, os.path.join(root, "tools", "scaling_bench.py"),
         "--worker", "--pages", "2000", "--seed", "11", "--cores", "2"],
        capture_output=True, text=True, timeout=420,
    )
    line = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
    assert out.returncode == 0 and line.startswith("{"), out.stderr[-2000:]
    rec = json.loads(line)
    exec_m = rec.get("stage_exec")
    assert exec_m, "stage_exec telemetry missing from worker output"
    for st in ("extract", "signatures", "block", "pairs", "score", "cluster"):
        assert st in exec_m, f"no telemetry for stage {st}"
        m = exec_m[st]
        assert m["run_s"] > 0, (st, m)
        assert m["cpu_s"] > 0, (st, m)
        assert m["failed_tasks"] == 0, (st, m)


def test_match_novel_batch_job_count(spark, monkeypatch):
    """One crawl micro-batch (``match_novel_batch`` to a noop sink) runs
    a pinned number of Spark jobs, for a 3-page tick and for 200 fresh
    pages against the same history, and reading the Bloom geometry off
    the index runs none. The tick runs the Bloom kernel once: its
    executed plans hold one ``_test`` node between them."""
    from ny_campaign_finance_dedupe_spark import synth
    from ny_campaign_finance_dedupe_spark.operators import bloom
    from ny_campaign_finance_dedupe_spark.plans.pipeline import PipelineConfig
    from ny_campaign_finance_dedupe_spark.streaming import crawl, incremental

    pages, _ = synth.synth_pages(spark, n_pages=120, seed=19, dup_rate=0.0)
    history = pages.localCheckpoint()
    keys, bidx = crawl.build_history_index(history, n_buckets=8)
    keys, bidx = keys.localCheckpoint(), bidx.localCheckpoint()
    index = incremental.build_index(history, PipelineConfig()).localCheckpoint()
    one = history.limit(1).collect()[0]
    batch = spark.createDataFrame(
        [("https://re.example.com/a", one["warc_ts"], one["html"],
          one["text"], one["lang"]),
         ("https://near.example.com/b", one["warc_ts"], None,
          one["text"] + " zzzextra", one["lang"]),
         ("https://fresh.example.com/c", None, None,
          "entirely new vocabulary qqq", "en")],
        synth.PAGES_SCHEMA,
    )
    fresh, _ = synth.synth_pages(spark, n_pages=200, seed=77, dup_rate=0.0)
    fresh = fresh.localCheckpoint()
    assert _jobs_in_group(spark, "bloom-geometry", lambda: bloom._geometry(bidx)) == 0

    def tick_jobs(group, pages):
        return _jobs_in_group(
            spark,
            group,
            lambda: crawl.match_novel_batch(
                pages, keys, bidx, index, PipelineConfig()
            ).write.format("noop").mode("overwrite").save(),
        )

    assert tick_jobs("crawl-batch", batch) == 12
    assert tick_jobs("crawl-batch-200", fresh) == 13

    # the executed plans of the two frames the tick localCheckpoints and
    # of its result hold the Bloom membership kernel once between them
    plans = []
    frame_cls = type(fresh)
    checkpoint = frame_cls.localCheckpoint

    def recorded(df, *args, **kwargs):
        out = checkpoint(df, *args, **kwargs)
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(frame_cls, "localCheckpoint", recorded)
    out = crawl.match_novel_batch(fresh, keys, bidx, index, PipelineConfig())
    out.write.format("noop").mode("overwrite").save()
    plans.append(out._jdf.queryExecution().executedPlan().toString())
    monkeypatch.undo()
    probes = [  # an adaptive plan prints its final plan, then its initial
        line
        for plan in plans
        for line in plan.split("== Initial Plan ==")[0].splitlines()
        if "ArrowEvalPython" in line and "_test(" in line
    ]
    assert len(probes) == 1, plans


def test_segment_dedup_builds_without_a_job(spark):
    """Building a segment_dedup or clean_corpus frame runs no Spark job:
    the hot segments stay a lazy broadcast anti-join input, nothing is
    collected before the caller's action."""
    from ny_campaign_finance_dedupe_spark.operators import dedup
    from ny_campaign_finance_dedupe_spark.plans.corpus import clean_corpus

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    built = []
    assert _jobs_in_group(
        spark,
        "segment-build",
        lambda: built.append(
            dedup.segment_dedup(docs, "doc_id", "text", seg_words=7)
        ),
    ) == 0
    assert _jobs_in_group(
        spark,
        "clean-corpus-build",
        lambda: built.append(clean_corpus(docs, "doc_id", "text")),
    ) == 0
    for df in built:
        dedup.release(df)
