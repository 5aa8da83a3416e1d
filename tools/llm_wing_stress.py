"""Scale-stress the LLM-pipeline wing at 1-2M synthetic pages.

The round-4 scaling ledger covers only the flagship ER pipeline; the
training-data operators (segment_dedup both strategies, passage_dedup,
decontaminate, quality_classifier, pack_sequences) had only ever run at
sf0.1 (40k docs). This harness runs each at 1-2M pages — one draw each,
fresh JVM per operator (same isolation argument as scaling_bench), cpu
ceiling bracketing around the series — and records wall-clock plus the
operator's TOTAL shuffle write bytes and spill from the Spark UI REST
API, so each operator's measured shuffle can be compared against its
PLANS.md scale claim (ids+hashes-only exchanges, never text).

Input: synth_pages(n, seed=42) re-keyed to the documents-table shape
(doc_id, text) — deterministic, no external data. Operators run their
DEPLOYED configuration (fast hash family where one exists), matching
bench.py's measure-as-deployed rule.

Usage:
    python tools/llm_wing_stress.py --pages 2000000 --cores 8
    python tools/llm_wing_stress.py --worker --op passage_dedup \
        --pages 2000000 --cores 8          # one operator (internal)
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OPS = [
    "segment_dedup_broadcast",
    "segment_dedup_join",
    "passage_dedup",
    "decontaminate",
    "quality_classifier",
    "pack_sequences",
]


def _build(op: str, docs, spark):
    import pyspark.sql.functions as F

    from ny_campaign_finance_dedupe_spark.operators import (
        dedup,
        packing,
        quality,
    )

    if op == "segment_dedup_broadcast":
        return dedup.segment_dedup(
            docs, "doc_id", "text", seg_words=10, df_threshold=2,
            strategy="broadcast",
        )
    if op == "segment_dedup_join":
        return dedup.segment_dedup(
            docs, "doc_id", "text", seg_words=10, df_threshold=2,
            strategy="join",
        )
    if op == "passage_dedup":
        return dedup.passage_dedup(docs, "doc_id", "text", window=8)
    if op == "decontaminate":
        bench = docs.where(F.col("doc_id") % 97 == 0)
        return dedup.decontaminate(docs, "doc_id", "text", bench, "text", n=8)
    if op == "quality_classifier":
        return quality.score_text_classifier(
            docs, "doc_id", "text", model=None, n_buckets=512, family="fast"
        )
    if op == "pack_sequences":
        return packing.pack_sequences(
            docs, "doc_id", "text", seq_len=2048, n_shards=64
        )
    raise ValueError(op)


def worker(op: str, pages_n: int, cores: int, seed: int) -> None:
    import pyspark.sql.functions as F

    from ny_campaign_finance_dedupe_spark.operators import dedup
    from ny_campaign_finance_dedupe_spark.session import get_spark
    from ny_campaign_finance_dedupe_spark.synth import synth_pages
    from tools.stage_telemetry import shuffle_totals

    heap = f"{4 * cores}g"
    spark = get_spark(
        f"wing-{op}",
        master=f"local[{cores}]",
        shuffle_partitions=64,
        extra_conf={
            "spark.driver.memory": heap,
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    pages, _ = synth_pages(spark, n_pages=pages_n, seed=seed)
    docs = pages.select(
        F.xxhash64("url").alias("doc_id"), "text"
    ).persist()
    n_in = docs.count()  # materialize input outside the timed region

    before = shuffle_totals(spark)
    t0 = time.perf_counter()
    err = None
    try:
        out = _build(op, docs, spark)
        # noop sink, NOT count(): count lets column pruning delete a
        # narrow operator's Window/Exchange entirely (measured:
        # pack_sequences "shuffled" 118 bytes under count) — the noop
        # write materializes every output column at full width.
        out.write.format("noop").mode("overwrite").save()
    except Exception as e:  # loud-bound refusals are a finding, not a crash
        err = f"{type(e).__name__}: {e}"[:400]
    wall = time.perf_counter() - t0
    after = shuffle_totals(spark)
    rec = {
        "op": op,
        "pages": pages_n,
        "cores": cores,
        "n_in": n_in,
        "wall_s": round(wall, 1),
        "error": err,
    }
    # a failed snapshot on either side leaves the deltas unknown (null),
    # never differenced against 0: a missing "before" would charge the
    # set-up stages' shuffle to the operator
    for k in ("shuffle_write_b", "shuffle_read_b", "spill_b"):
        rec[k] = after[k] - before[k] if before and after else None
    if err is None:
        dedup.release(out)
    print("WING " + json.dumps(rec), flush=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=2_000_000)
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--ops", default=",".join(OPS))
    ap.add_argument("--worker", action="store_true")
    ap.add_argument("--op")
    args = ap.parse_args()
    if args.worker:
        worker(args.op, args.pages, args.cores, args.seed)
        return
    for op in args.ops.split(","):
        cmd = [
            sys.executable, os.path.abspath(__file__), "--worker",
            "--op", op, "--pages", str(args.pages),
            "--cores", str(args.cores), "--seed", str(args.seed),
        ]
        try:
            # bound each operator so one wedged Spark job cannot stall
            # the rest of the sweep (fresh-JVM isolation already
            # intends per-operator blast radius)
            r = subprocess.run(
                cmd, capture_output=True, text=True, timeout=3600
            )
        except subprocess.TimeoutExpired:
            print(f"WING-FAIL {op} rc=timeout(3600s)", flush=True)
            continue
        for ln in r.stdout.splitlines():
            if ln.startswith("WING "):
                print(ln, flush=True)
                break
        else:
            tail = (r.stdout + r.stderr)[-600:]
            print(f"WING-FAIL {op} rc={r.returncode} tail={tail!r}", flush=True)


if __name__ == "__main__":
    main()
