"""spark-submit entrypoint for the ER pipeline (north_rule packaging).

Usage (cluster):
    python tools/make_pyfiles.py           # -> dist/nycfd_spark.zip
    spark-submit --py-files dist/nycfd_spark.zip jobs/run_pipeline.py \
        --input  <pages table/parquet path or 'synth:N'> \
        --checkpoint-root <durable uri> \
        --output <entity_map path> \
        [--resume-from {extract,signatures,block,pairs,score,cluster}] \
        [--lang en] [--model artifact.json] [--threshold 0.5]

Reference lifecycle being packaged: campaign_finance_dedupe.run_dedupe +
start_at_clustering resume (SURVEY.md §3.1/§3.3). On a cluster, master
and executor topology come from spark-submit; locally this runs on
local[*] via the session factory.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    from ny_campaign_finance_dedupe_spark.sources.checkpoint import (
        STAGES,
        CheckpointStore,
    )

    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="pages parquet/table path, or synth:N for the generator")
    ap.add_argument("--checkpoint-root", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--resume-from", default=None, choices=STAGES)
    ap.add_argument("--lang", default=None)
    ap.add_argument("--model", default=None, help="S7 model artifact JSON")
    ap.add_argument("--threshold", type=float, default=0.5)
    ap.add_argument("--run-id", default=None)
    args = ap.parse_args()

    import pyspark.sql.functions as F

    from ny_campaign_finance_dedupe_spark.plans.pipeline import (
        DedupePipeline,
        PipelineConfig,
    )
    from ny_campaign_finance_dedupe_spark.session import get_spark
    from ny_campaign_finance_dedupe_spark.sources.io import load_model_artifact
    from ny_campaign_finance_dedupe_spark.synth import synth_pages

    spark = get_spark("nycfd-pipeline")
    cfg = PipelineConfig(lang_filter=args.lang, score_threshold=args.threshold)
    if args.model:
        model, _params = load_model_artifact(args.model)
        cfg.model = model

    if args.input.startswith("synth:"):
        pages, _ = synth_pages(spark, n_pages=int(args.input.split(":", 1)[1]))
    else:
        pages = spark.read.parquet(args.input)

    store = CheckpointStore(args.checkpoint_root, run_id=args.run_id)
    entity_map = DedupePipeline(cfg, store).run(
        spark, pages, resume_from=args.resume_from
    )
    entity_map.write.mode("overwrite").parquet(args.output)
    # filter on THIS run's id: match_runs is shared across every run
    # under the checkpoint root, and latest-by-clock would report a
    # concurrently-finishing run's stats
    stats = (
        store.match_runs(spark)
        .where(F.col("stage") == "cluster_stats")
        .where(F.col("run_id") == store.run_id)
        .orderBy("completed", ascending=False)
        .limit(1)
        .collect()
    )
    print(json.dumps({
        "run_id": store.run_id,
        "entity_map": args.output,
        "rows": entity_map.count(),
        "cluster_stats": json.loads(stats[0]["params"])["cluster_stats"]
        if stats else None,
    }))


if __name__ == "__main__":
    main()
