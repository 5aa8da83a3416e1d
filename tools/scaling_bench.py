"""Two-cluster-size scaling evidence (north_rule).

A real N vs 4N executor-count comparison is impossible in the sandbox,
so the same job runs at two parallelism levels — ``--lo N`` vs
``--hi 4N`` cores (default 8/32; use 2/8 on this VM, whose own CPU
scaling ceiling at 8->32 procs is ~0.77 — see BASELINE.md) — over the
byte-identical synthetic pages table
(synth.synth_pages is deterministic in (seed, n_pages) at any
parallelism). Each level runs in its own subprocess (fresh JVM) and
reports wall-clock for the full ER pipeline (extract -> block -> pairs
-> score -> cluster, all checkpointed).

Scaling efficiency (per-core normalized, BASELINE.md):

    eff = throughput_hi / (4 * throughput_lo)

Usage:
    python tools/scaling_bench.py --pages 1000000 --lo 2 --hi 8
    python tools/scaling_bench.py --worker --cores 8   # one level (internal)
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def worker(
    cores: int, pages_n: int, seed: int, partitions: int = 0
) -> None:
    from ny_campaign_finance_dedupe_spark.session import get_spark

    # Hold memory PER CORE constant across levels (4 GiB/core: 2 cores
    # -> 8g, identical to the rounds-1/2 protocol; 8 cores -> 32g). A
    # real N -> 4N executor scale-up brings 4N executor memory with it;
    # giving both local[] levels the same fixed heap makes per-task
    # memory 4x smaller at the hi level — an anti-scaling bias no
    # cluster has (visible as hi-side spill once the input outgrows the
    # heap, e.g. at 2M pages).
    # partitions=0 (legacy protocol): shuffle partitions track the core
    # count (2 per core). partitions>0 (data-sized protocol): the SAME
    # partition count at both levels — how a real cluster is tuned
    # (partitions sized to data volume, with AQE coalescing the small
    # ones), and what removes the lo-level's under-partitioning spill
    # (4 partitions over a ~13 GB pairs shuffle at 2 cores spills ~3.8 GB
    # per the stage_exec telemetry; 8 cores/16 partitions does not —
    # an artifact no real deployment of either size would exhibit).
    parts = partitions or 2 * cores
    spark = get_spark(
        f"scaling-{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=parts,
        extra_conf={
            "spark.driver.memory": f"{4 * cores}g",
            # UI on (ephemeral port): sole consumer is the post-run REST
            # telemetry snapshot (tools/stage_telemetry.py) — per-stage
            # executor run/CPU/GC time, task retries, spill, which
            # adjudicate anomalous per-stage walls (BASELINE.md
            # signatures post-mortem)
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
        },
    )
    measure(spark, {"cores": cores}, pages_n, seed, parts)


def measure(spark, level: dict, pages_n: int, seed: int, parts: int) -> None:
    """Time one checkpointed ``DedupePipeline.run`` over synth pages on
    ``spark`` and print its JSON line, led by ``level`` (the cores or
    executors of this run). The --worker body of this tool and of
    tools/cluster_scaling_bench.py."""
    import shutil

    import pyspark.sql.functions as F

    from ny_campaign_finance_dedupe_spark.plans.pipeline import (
        DedupePipeline,
        PipelineConfig,
    )
    from ny_campaign_finance_dedupe_spark.session import scratch_dir
    from ny_campaign_finance_dedupe_spark.sources.checkpoint import CheckpointStore
    from ny_campaign_finance_dedupe_spark.synth import synth_pages

    spark.sparkContext.setLogLevel("ERROR")
    pages, _ = synth_pages(spark, n_pages=pages_n, seed=seed, partitions=parts)
    pages = pages.persist()
    pages.count()  # materialize input outside the timed region
    os.makedirs(scratch_dir(), exist_ok=True)
    ckpt_root = tempfile.mkdtemp(prefix="nycfd_scale_", dir=scratch_dir())
    t0 = time.perf_counter()
    store = CheckpointStore(ckpt_root)
    em = DedupePipeline(PipelineConfig(), store).run(spark, pages)
    rows = em.count()
    secs = time.perf_counter() - t0
    # content equivalence across levels, not just row counts: an
    # order-insensitive hash of the cluster ASSIGNMENT (sum of per-row
    # xxhash64 — commutative, so partitioning/ordering can't affect it;
    # float cluster_score is excluded: per-cluster float aggregation
    # order may legally differ between parallelism levels)
    em_hash = str(
        em.select(
            # ANSI mode: a long SUM overflows; accumulate in decimal(38,0)
            F.sum(
                F.xxhash64("record_id", "cluster_id").cast("decimal(38,0)")
            ).alias("h")
        ).collect()[0]["h"]
    )
    # per-stage wall clocks straight from the checkpoint metadata the run
    # already wrote (sources/checkpoint.py meta.json) — identifies which
    # stage scales worst between the two levels, at zero measurement cost
    stage_walls = {}
    for st in ("extract", "signatures", "block", "pairs", "score", "cluster"):
        mp = store._meta_path(st)
        if mp.exists():
            stage_walls[st] = round(
                json.loads(mp.read_text())["wall_clock_s"], 2
            )
    # best-effort executor telemetry (never fails the measurement)
    try:
        from tools.stage_telemetry import stage_exec_metrics

        stage_exec = stage_exec_metrics(spark)
    except Exception:
        stage_exec = None
    shutil.rmtree(ckpt_root, ignore_errors=True)
    print(
        json.dumps(
            {
                **level,
                "pages": pages_n,
                "secs": round(secs, 2),
                "pages_per_sec": round(pages_n / secs, 1),
                "entity_map_rows": rows,
                "entity_map_hash": em_hash,
                "stage_walls": stage_walls,
                "stage_exec": stage_exec,
            }
        )
    )


def run_level(cores: int, pages_n: int, seed: int, partitions: int = 0) -> dict:
    out = subprocess.run(
        [
            sys.executable,
            os.path.abspath(__file__),
            "--worker",
            "--cores",
            str(cores),
            "--pages",
            str(pages_n),
            "--seed",
            str(seed),
            "--partitions",
            str(partitions),
        ],
        capture_output=True,
        text=True,
        check=False,
    )
    line = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
    if out.returncode != 0 or not line.startswith("{"):
        sys.stderr.write(out.stderr[-3000:])
        raise RuntimeError(f"worker local[{cores}] failed rc={out.returncode}")
    return json.loads(line)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=40000)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--lo", type=int, default=8, help="N cores")
    ap.add_argument("--hi", type=int, default=32, help="4N cores")
    ap.add_argument("--worker", action="store_true")
    ap.add_argument(
        "--partitions",
        type=int,
        default=0,
        help="shuffle/input partition count at BOTH levels (0 = legacy 2*cores)",
    )
    args = ap.parse_args()
    if args.worker:
        worker(args.cores, args.pages, args.seed, args.partitions)
        return
    lo = run_level(args.lo, args.pages, args.seed, args.partitions)
    hi = run_level(args.hi, args.pages, args.seed, args.partitions)
    # per-core-normalized: divide by the ACTUAL core ratio, not a fixed
    # 4 (a --lo 2 --hi 6 run would otherwise report 0.75 for perfect
    # scaling)
    ratio = args.hi / args.lo
    eff = hi["pages_per_sec"] / (ratio * lo["pages_per_sec"])
    assert lo["entity_map_rows"] == hi["entity_map_rows"], "nondeterministic output"
    assert lo["entity_map_hash"] == hi["entity_map_hash"], (
        "entity-map CONTENT differs between parallelism levels"
    )
    print(
        json.dumps(
            {
                "metric": f"scaling_efficiency_{args.lo}_to_{args.hi}",
                "value": round(eff, 3),
                "unit": "ratio",
                "lo": lo,
                "hi": hi,
                "speedup": round(hi["pages_per_sec"] / lo["pages_per_sec"], 2),
            }
        )
    )


if __name__ == "__main__":
    main()
