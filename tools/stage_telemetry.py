"""Per-pipeline-stage executor telemetry from Spark's UI REST API.

Why: the 2M-page scaling series twice recorded a single stateless stage
(signatures) running 2.5-4.6x its cross-draw norm at the hi level only,
while adjacent stages in the SAME run scaled normally (BASELINE.md,
12:35 and 17:05 draws). Wall-clock alone cannot distinguish the three
candidate mechanisms, but executor task metrics can:

- VM steal / host contention  -> executorRunTime inflates, CPU flat
  (the executor thread is descheduled; it accrues wall, not CPU)
- JVM memory pressure         -> jvmGcTime inflates
- python worker death/respawn -> numFailedTasks > 0 (task retries)
- spill                       -> memoryBytesSpilled > 0

Used by tools/scaling_bench.py and perfbench/tracing.py when the
session enables the UI (spark.ui.enabled=true, port 0). Pipeline stages
are identified by the job group DedupePipeline.run sets around each
stage; anything outside a group (synth input materialization,
run-stats) is ignored.
"""

from __future__ import annotations

import json
import urllib.request


def _rest_get(spark, path: str):
    """GET ``path`` under this application's UI REST API, parsed. Raises
    when the UI is disabled or unreachable; callers catch and report
    None (telemetry is best-effort: it must never fail a measurement
    run)."""
    base = spark.sparkContext.uiWebUrl
    if not base:
        raise RuntimeError("Spark UI disabled")
    app_id = spark.sparkContext.applicationId
    url = f"{base}/api/v1/applications/{app_id}{path}"
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read().decode())


def stage_exec_metrics(spark) -> dict | None:
    """{pipeline_stage: {run_s, cpu_s, gc_s, failed_tasks, spill_mb}}
    aggregated over that stage's Spark stages, or None when the UI is
    disabled or unreachable (callers treat telemetry as best-effort:
    it must never fail a measurement run)."""
    try:
        jobs = _rest_get(spark, "/jobs")
        stages = _rest_get(spark, "/stages?status=complete") + _rest_get(
            spark, "/stages?status=failed"
        )
    except Exception:
        return None
    group_of: dict[int, str] = {}
    for j in jobs:
        g = j.get("jobGroup")
        if not g or not g.startswith("pipeline:"):
            continue
        for sid in j.get("stageIds", []):
            group_of.setdefault(sid, g.removeprefix("pipeline:"))
    out: dict[str, dict] = {}
    for st in stages:
        g = group_of.get(st.get("stageId"))
        if g is None:
            continue
        d = out.setdefault(
            g,
            {
                "run_s": 0.0,
                "cpu_s": 0.0,
                "gc_s": 0.0,
                "failed_tasks": 0,
                "spill_mb": 0.0,
            },
        )
        # REST units: executorRunTime/jvmGcTime ms, executorCpuTime ns
        d["run_s"] += st.get("executorRunTime", 0) / 1e3
        d["cpu_s"] += st.get("executorCpuTime", 0) / 1e9
        d["gc_s"] += st.get("jvmGcTime", 0) / 1e3
        d["failed_tasks"] += st.get("numFailedTasks", 0)
        d["spill_mb"] += st.get("memoryBytesSpilled", 0) / 1e6
    return {
        k: {m: round(v, 2) for m, v in d.items()} for k, d in out.items()
    } or None
