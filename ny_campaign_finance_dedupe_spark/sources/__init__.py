"""Sources & sinks: stage checkpoints with lineage/metrics
(``checkpoint.CheckpointStore``, overwrite-mode parquet per stage) and
schema'd readers/writers."""
