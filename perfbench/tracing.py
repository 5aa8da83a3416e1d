"""Measurement helpers for the benchmark: process-tree memory, spans,
Spark job groups, shuffle bytes, UDF profiler time and executor metrics.

Everything here observes the engine from outside: it times calls into
the package's public functions and reads Spark's own bookkeeping (the
status tracker, the in-process status store, the UDF profiler and
``tools/stage_telemetry``). Nothing in the package is changed or
patched.
"""

from __future__ import annotations

import os
import pstats
import shutil
import signal
import subprocess
import time
from contextlib import contextmanager
from pathlib import Path

from py4j.protocol import Py4JJavaError

from ny_campaign_finance_dedupe_spark.sources.checkpoint import CheckpointStore
from tools.stage_telemetry import stage_exec_metrics

#: Package module (file basename, as profiles record it) -> the layer
#: its Python UDF time is charged to.
UDF_LAYER_OF_MODULE = {
    "normalize.py": "extract",
    "hashing.py": "signatures",
}


# -- process tree ---------------------------------------------------------------
def _children(pid: int) -> list[int]:
    out = []
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as f:
                stat = f.read()
        except OSError:  # exited while scanning
            continue
        # field 4 (ppid) follows the parenthesised command name
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            out.append(int(entry.name))
    return out


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its descendants: the
    JVM this driver launched and the Python workers the JVM forked."""
    root = os.getpid() if root is None else root
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(_children(pid))
    return tree


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:  # exited, or not readable
        pass
    return 0


class PeakRss:
    """Peak resident memory of the driver process tree, in MB: the
    largest sum, over the samples taken, of each live process's
    proportional set size (``Pss``: resident pages, shared ones divided
    among their sharers). Summing plain RSS would count the pages every
    forked Python worker shares with its daemon once per worker.
    Samples are taken between calls; no sampling thread is started."""

    def __init__(self):
        self.peak_kb = 0

    def sample(self) -> None:
        self.peak_kb = max(self.peak_kb, sum(_pss_kb(p) for p in process_tree()))

    @property
    def mb(self) -> float:
        return self.peak_kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, shut its JVM down and wait until the JVM and
    every Python worker it started have exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spawned = [p for p in process_tree() if p != os.getpid()]
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    alive = spawned
    while alive and time.monotonic() < deadline:
        time.sleep(0.2)
        alive = [p for p in alive if not _is_gone(p)]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _is_gone(pid: int) -> bool:
    """Exited: no longer in /proc, or a zombie its parent has not reaped."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


# -- Spark bookkeeping ----------------------------------------------------------
def job_ids(spark, group: str) -> set[int]:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


@contextmanager
def job_group(spark, group: str):
    """Tag the Spark jobs a span starts with ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def shuffle_write_bytes(spark, jobs: set[int]) -> int:
    """Shuffle bytes written by the stages of ``jobs``, read from the
    driver's in-process status store (no UI or REST needed)."""
    tracker = spark.sparkContext.statusTracker()
    store = spark.sparkContext._jsc.sc().statusStore()
    stage_ids: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    total = 0
    for sid in stage_ids:
        try:
            total += int(store.lastStageAttempt(sid).shuffleWriteBytes())
        except Py4JJavaError:  # stage skipped: its shuffle was reused
            pass
    return total


def exec_metrics(spark) -> dict:
    """Cumulative executor metrics per pipeline stage (see
    tools/stage_telemetry.py); empty when the UI is off."""
    return stage_exec_metrics(spark) or {}


def exec_metrics_delta(before: dict, after: dict) -> dict:
    out = {}
    for stage, m in after.items():
        b = before.get(stage, {})
        out[stage] = {k: v - b.get(k, 0.0) for k, v in m.items()}
    return out


class UdfProfile:
    """Python UDF time per layer from Spark's UDF profiler
    (``spark.sql.pyspark.udf.profiler=perf``).

    Each profiled UDF id is charged to the layer of the package module
    its Python frames live in (``UDF_LAYER_OF_MODULE``)."""

    def __init__(self, spark, dump_dir: Path):
        self.spark = spark
        self.dump_dir = dump_dir

    def start(self) -> None:
        self.spark.profile.clear(type="perf")
        self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")

    def stop(self) -> dict[str, float]:
        self.spark.conf.unset("spark.sql.pyspark.udf.profiler")
        shutil.rmtree(self.dump_dir, ignore_errors=True)
        self.spark.profile.dump(str(self.dump_dir), type="perf")
        out: dict[str, float] = {}
        for f in sorted(self.dump_dir.glob("udf_*_perf.pstats")):
            st = pstats.Stats(str(f))
            layer = _udf_layer(st)
            out[layer] = out.get(layer, 0.0) + st.total_tt
        self.spark.profile.clear(type="perf")
        shutil.rmtree(self.dump_dir, ignore_errors=True)
        return out


def _udf_layer(st: pstats.Stats) -> str:
    """The layer whose package functions take the most cumulative time
    in this UDF's profile (module-level import frames excluded)."""
    ct: dict[str, float] = {}
    for (path, _line, fn), (_cc, _nc, _tt, cum, _callers) in st.stats.items():
        layer = UDF_LAYER_OF_MODULE.get(path)
        if layer is not None and fn != "<module>":
            ct[layer] = ct.get(layer, 0.0) + cum
    return max(ct, key=ct.get) if ct else "other"


# -- pipeline spans -------------------------------------------------------------
class SpanStore(CheckpointStore):
    """A CheckpointStore that records when each stage's checkpoint write
    returns, and how long ``write_run_stats`` takes.

    ``DedupePipeline.run`` builds and writes its stages strictly in
    order, so a stage's span runs from the end of the previous stage's
    write (or from the start of the run) to the end of its own write:
    it covers the stage's plan building, eager work such as the cluster
    stage's local checkpoint, its checkpoint write and the read-back."""

    def __init__(self, root: str):
        super().__init__(root)
        self.t_start = 0.0
        self.ends: list[tuple[str, float]] = []
        self.write_s = 0.0
        self.run_stats_s = 0.0

    def write(self, df, stage, params=None, rows_in=None):
        t = time.perf_counter()
        out = super().write(df, stage, params=params, rows_in=rows_in)
        now = time.perf_counter()
        self.write_s += now - t
        self.ends.append((stage, now))
        return out

    def write_run_stats(self, entity_map=None, params=None, spark=None):
        t = time.perf_counter()
        out = super().write_run_stats(entity_map, params=params, spark=spark)
        self.run_stats_s += time.perf_counter() - t
        return out

    def stage_spans(self) -> dict[str, float]:
        spans, prev = {}, self.t_start
        for stage, end in self.ends:
            spans[stage] = end - prev
            prev = end
        return spans
