"""Per-stage checkpoints + per-partition lineage metrics.

Reference analogs: the durable ``blocking_map``/``entity_map`` Postgres
tables that make ``start_at_clustering.py:119-374`` (resume-from-blocking)
and ``run_stats_only.py`` (recompute-from-entity_map) possible, plus the
``match_runs`` metrics row appended after every run
(campaign_finance_dedupe.py:473-481, schema data_load/pre_init_db.py:23).

Here every stage writes:
- its output as overwrite-mode parquet under
  ``<root>/<run_id>/<stage>/data``,
- a ``_SUCCESS``-gated marker with the stage params hash, so resume only
  reuses a checkpoint produced by an identical configuration,
- per-partition lineage rows (partition_id, rows_out) + wall clock into
  ``<root>/match_runs`` (FIXTURES.md §5 schema).

Partition counts come from the parquet file footers of the written
checkpoint — metadata-only: no extra scan job per stage. The marker also
carries the written frame's schema, and every read (the write's
read-back, a resume, run stats) passes it to the scan, so no read runs a
schema-inference job (pinned by test_checkpoint_write_runs_no_extra_job
and test_checkpoint_read_runs_no_job).
Decoding every footer doubles as a read-back validation (a truncated or
corrupt file fails right here, not three stages later). A read is a
plain parquet scan with no repartition: the session's
``maxPartitionBytes``/``openCostInBytes`` settings split small stages
across cores, and every consumer that needs a shuffle makes its own
(pinned by test_checkpoint_read_back_has_no_exchange).
"""

from __future__ import annotations

import json
import time
import uuid
from pathlib import Path

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession

STAGES = ["extract", "signatures", "block", "pairs", "score", "cluster"]

MATCH_RUNS_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("stage", T.StringType()),
        T.StructField("completed", T.TimestampType()),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("rows_in", T.LongType()),
        T.StructField("rows_out", T.LongType()),
        T.StructField("wall_clock_s", T.DoubleType()),
        T.StructField("params", T.StringType()),
    ]
)


class CheckpointStore:
    def __init__(self, root: str, run_id: str | None = None):
        self.root = Path(root)
        self.run_id = run_id or uuid.uuid4().hex[:12]

    # -- paths ---------------------------------------------------------------
    def _stage_dir(self, stage: str) -> Path:
        return self.root / self.run_id / stage

    def _data_path(self, stage: str) -> str:
        return str(self._stage_dir(stage) / "data")

    def _meta_path(self, stage: str) -> Path:
        return self._stage_dir(stage) / "meta.json"

    # -- api -----------------------------------------------------------------
    def _meta(self, stage: str) -> dict | None:
        """The stage's marker, or None when there is none or it predates
        the schema field (such a checkpoint cannot be read without
        inference, so it counts as absent)."""
        meta = self._meta_path(stage)
        if not meta.exists():
            return None
        saved = json.loads(meta.read_text())
        return saved if "schema" in saved else None

    def has(self, stage: str, params: dict | None = None) -> bool:
        saved = self._meta(stage)
        if saved is None:
            return False
        return params is None or saved["params"] == _canon(params)

    def read(self, spark: SparkSession, stage: str) -> DataFrame:
        saved = self._meta(stage)
        if saved is None:
            raise FileNotFoundError(f"no checkpoint for stage {stage!r}")
        schema = T.StructType.fromJson(saved["schema"])
        return spark.read.schema(schema).parquet(self._data_path(stage))

    def write(
        self,
        df: DataFrame,
        stage: str,
        params: dict | None = None,
        rows_in: int | None = None,
    ) -> DataFrame:
        """Materialize a stage, record lineage, return the read-back DF
        (downstream reads files, not the upstream lineage — the
        checkpoint IS the stage boundary)."""
        path = self._data_path(stage)
        t0 = time.time()
        df.write.mode("overwrite").parquet(path)
        wall = time.time() - t0
        p = _canon(params or {})
        rows = [
            (
                self.run_id,
                stage,
                pid,
                int(rows_in) if rows_in is not None else None,
                n,
                float(wall),
                p,
            )
            for pid, n in _footer_counts(path)
        ] or [(self.run_id, stage, -1, rows_in, 0, float(wall), p)]
        _append_match_runs(self.root / "match_runs", rows)
        self._meta_path(stage).parent.mkdir(parents=True, exist_ok=True)
        self._meta_path(stage).write_text(
            json.dumps(
                {"params": p, "wall_clock_s": wall, "schema": df.schema.jsonValue()}
            )
        )
        return self.read(df.sparkSession, stage)

    def match_runs(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(str(self.root / "match_runs"))

    def write_run_stats(
        self,
        entity_map: DataFrame | None = None,
        params: dict | None = None,
        spark: SparkSession | None = None,
    ):
        """Cluster-shape stats row (A5, campaign_finance_dedupe.py:443-471):
        total_clusters, avg/biggest cluster size, total_records, ratio.

        Contract: a caller-passed ``entity_map`` is aggregated AS GIVEN
        — never silently swapped for on-disk state. Pass
        ``entity_map=None`` to aggregate the cluster checkpoint
        (``read``) instead; that path requires the cluster checkpoint to
        exist WITH matching ``params``, so stats can never describe a
        stale or differently-configured run."""
        if entity_map is not None:
            src = entity_map
        else:
            # params is REQUIRED here: has(stage, None) is a bare
            # existence probe, which would silently accept a checkpoint
            # written under a different configuration
            if params is None or not self.has("cluster", params):
                raise ValueError(
                    "write_run_stats(entity_map=None) requires a cluster "
                    "checkpoint written under the same (non-None) params"
                )
            spark = spark or SparkSession.getActiveSession()
            if spark is None:
                raise ValueError(
                    "write_run_stats(entity_map=None) needs a SparkSession "
                    "(pass spark=...) when none is active"
                )
            src = self.read(spark, "cluster")
        sizes = src.groupBy("cluster_id").count()
        row = sizes.agg(
            F.count("*").alias("total_clusters"),
            F.avg("count").alias("avg_cluster_size"),
            F.max("count").alias("biggest_cluster_size"),
            F.sum("count").alias("total_records"),
        ).collect()[0]
        stats = {
            "total_clusters": int(row["total_clusters"]),
            "avg_cluster_size": float(row["avg_cluster_size"]),
            "biggest_cluster_size": int(row["biggest_cluster_size"]),
            "total_records": int(row["total_records"]),
            "ratio": float(row["total_clusters"]) / max(int(row["total_records"]), 1),
        }
        merged = dict(params or {})
        merged["cluster_stats"] = stats
        _append_match_runs(
            self.root / "match_runs",
            [
                (
                    self.run_id,
                    "cluster_stats",
                    -1,
                    None,
                    stats["total_records"],
                    0.0,
                    _canon(merged),
                )
            ],
        )
        return stats


def _footer_counts(path: str) -> list[tuple[int, int]]:
    """(partition_id, rows) per written data file, straight from the
    parquet footers — a metadata-only read.

    Validation scope: footer-only. Decoding the footer catches a
    truncated or missing footer, but NOT corruption inside data
    pages — that surfaces on the first real read of the checkpoint
    (which every resume performs anyway). partition_id here is the
    SORTED-FILE INDEX within the checkpoint directory, not a Spark
    partition id — stable across re-lists of the same write, but not
    comparable to spark_partition_id() (see FIXTURES.md match_runs
    contract)."""
    import pyarrow.parquet as pq

    files = sorted(Path(path).rglob("*.parquet"))
    return [
        (i, pq.ParquetFile(str(f)).metadata.num_rows)
        for i, f in enumerate(files)
    ]


def _append_match_runs(root: Path, rows: list[tuple]) -> None:
    """Append lineage rows as one driver-written parquet part file.

    The rows are O(partitions) metadata — launching a Spark job to write
    them costs more than the write itself (measured ~0.3-0.5 s of fixed
    job latency per stage, x7 appends per pipeline run). pyarrow writes
    the same hive-layout part file Spark's append mode would; the tz-UTC
    timestamp keeps the column a Spark TimestampType (not NTZ) so
    ``match_runs()`` reads the exact MATCH_RUNS_SCHEMA."""
    import datetime as _dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    root.mkdir(parents=True, exist_ok=True)
    now = _dt.datetime.now(_dt.timezone.utc)
    cols = list(zip(*rows))
    table = pa.table(
        {
            "run_id": pa.array(cols[0], pa.string()),
            "stage": pa.array(cols[1], pa.string()),
            "completed": pa.array([now] * len(rows), pa.timestamp("us", tz="UTC")),
            "partition_id": pa.array(cols[2], pa.int32()),
            "rows_in": pa.array(cols[3], pa.int64()),
            "rows_out": pa.array(cols[4], pa.int64()),
            "wall_clock_s": pa.array(cols[5], pa.float64()),
            "params": pa.array(cols[6], pa.string()),
        }
    )
    pq.write_table(table, str(root / f"part-{uuid.uuid4().hex}.parquet"))


def _canon(params: dict) -> str:
    return json.dumps(params, sort_keys=True, default=str)
