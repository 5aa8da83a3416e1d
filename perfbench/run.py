"""Seeded end-to-end benchmark of the dedupe engine.

Usage, from the repository root::

    python3 perfbench/run.py --workload er_batch --seed 1 --seconds 10 --trace 0

``--workload all`` runs every workload, each in its own process, one
after the other, and exits nonzero when any of them failed.

One process drives one workload at ``local[<cores this process may
use>]`` in a closed loop with a single client: session start, set-up
(seeded input generation and materialization, made ``Workload.setups``
times), one untimed warm-up call, then timed calls until
the next one would overrun ``--seconds`` (at least MIN_CALLS), each
followed by an off-the-clock correctness check. With
``--trace 1`` the timed calls are one plain call, a traced call and one
more plain call, and the per-layer numbers are reported instead of the
end-to-end ones. See perfbench/README.md for the workloads and metrics.

Standard output ends with one JSON line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

preceded by a readable report of every metric with its unit. The exit
code is 0 only when every call and every correctness check passed.
Scratch files live under ``.perfbench_run/`` in the repository root and
are removed before exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
HERE = Path(__file__).resolve().parent
PACKAGE = "ny_campaign_finance_dedupe_spark"
WORKLOADS = {"er_batch": "ErBatch", "crawl_ticks": "CrawlTicks"}  # -> class
#: timed calls per run at least: wall_s is their median
MIN_CALLS = 2

#: End-to-end metrics the report prints. Those that apply to every
#: workload are also the JSON's end-to-end metrics (BENCHMARK.json);
#: the others apply to some workloads only and are printed, not emitted.
REPORTED = [
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("pages_per_s", "1/s"),
    ("tick_p50_s", "s"),
    ("pairwise_f1", "ratio"),
    ("checkpoint_bytes_per_page", "B"),
    ("peak_rss_mb", "MB"),
    ("error_rate", "ratio"),
]


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(scratch: Path) -> None:
    """Keep every file Spark, the JVM and the Python workers write under
    ``scratch``; make the package and these modules importable here and
    in the Python workers."""
    (scratch / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_SCRATCH"] = str(scratch)
    # Spark prefers this over spark.local.dir when the environment sets it
    os.environ["SPARK_LOCAL_DIRS"] = str(scratch / "spark-local")
    os.environ["TMPDIR"] = str(scratch / "tmp")
    # no /tmp/hsperfdata_<user> files from the launcher or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    paths = [str(ROOT), str(HERE)]
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = os.pathsep.join(paths + ([old] if old else []))
    sys.path[:0] = paths


def start_spark(scratch: Path, trace: bool):
    from ny_campaign_finance_dedupe_spark.session import get_spark

    conf = {
        # the generated-class cache must hold every warmed plan shape:
        # an evicted shape re-pays its compilation inside the timed call
        "spark.sql.codegen.cache.maxEntries": "5000",
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -Djava.io.tmpdir={scratch / 'tmp'}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:  # tools/stage_telemetry reads executor metrics from the UI
        conf.update({"spark.ui.enabled": "true", "spark.ui.port": "0"})
    cores = len(os.sched_getaffinity(0))
    spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def make_workload(name, spark, seed, scratch):
    import workloads

    return getattr(workloads, WORKLOADS[name])(spark, seed, scratch)


class Loop:
    """Closed-loop driver: one call at a time, each checked off the clock."""

    def __init__(self, wl, rss):
        self.wl = wl
        self.rss = rss
        self.times: list[float] = []
        self.errors: list[str] = []
        self.attempted = 0
        self.failed = 0

    def attempt(self, fn, i, record=True):
        """Run ``fn(i)`` -> (handle, seconds, ...); returns the extra
        results, or None when the call or its check failed. ``record``
        adds the call's time to the untraced ``times``."""
        self.attempted += 1
        try:
            handle, secs, *rest = fn(i)
        except Exception as e:  # a failed call is counted, not fatal
            traceback.print_exc()
            self.failed += 1
            self.errors.append(f"call {i} raised {e!r}")
            return None
        self.rss.sample()
        try:
            errs = self.wl.check(handle)
        except Exception as e:
            traceback.print_exc()
            errs = [f"check of call {i} raised {e!r}"]
        finally:
            self.wl.release(handle)
        if errs:
            self.failed += 1
            self.errors.extend(errs)
            return None
        if record:
            self.times.append(secs)
        return rest


def run(args, spec, scratch: Path, t_start: float):
    import tracing

    rss = tracing.PeakRss()
    spark = start_spark(scratch, bool(args.trace))
    session_s = time.perf_counter() - t_start
    try:
        wl = make_workload(args.workload, spark, args.seed, scratch)
        setups, layers = [], []
        # traced runs report no setup_s: one set-up
        for _ in range(1 if args.trace else wl.setups):
            t = time.perf_counter()
            layers.append(wl.setup())
            setups.append(time.perf_counter() - t)
        # session start once, plus the median set-up; the warm-up (a
        # first, cold call) is reported apart: it is a single draw of
        # JIT and code-generation time, by far the noisiest part
        setup_s = session_s + statistics.median(setups)
        layer = {k: statistics.median([d[k] for d in layers]) for k in layers[0]}
        t = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t
        rss.sample()
        print(f"# session {session_s:.2f} s, set-ups "
              + " ".join(f"{v:.2f}" for v in setups)
              + f" s, warm-up {warmup_s:.2f} s, "
              + ", ".join(f"{k} {v:.2f} s" for k, v in layer.items()))

        loop = Loop(wl, rss)
        traced = None
        if args.trace:
            # an untraced call on each side of the traced one, so that
            # the calls still speeding up (JIT) do not bias the overhead
            loop.attempt(wl.run_call, 0)
            traced = loop.attempt(wl.traced_call, 1, record=False)
            loop.attempt(wl.run_call, 2)
        else:
            deadline = time.perf_counter() + args.seconds
            i = 0
            while True:
                t = time.perf_counter()
                loop.attempt(wl.run_call, i)
                i += 1
                now = time.perf_counter()
                if (i >= MIN_CALLS and now + (now - t) > deadline) or i == wl.max_calls:
                    break
        rss.sample()
    finally:
        tracing.stop_spark(spark)

    e2e = {"setup_s": setup_s, "peak_rss_mb": rss.mb}
    if loop.times:
        e2e["wall_s"] = statistics.median(loop.times)
        e2e["pages_per_s"] = wl.pages / e2e["wall_s"]
    e2e.update((k, v) for k, v in wl.extra.items() if k in dict(REPORTED))
    e2e["error_rate"] = loop.failed / loop.attempted
    if traced is not None:
        (m,) = traced
        layer.update(m)
        if loop.times:
            layer["trace.overhead_s"] = m["trace.wall_s"] - e2e["wall_s"]
    names = {m["name"] for m in spec["per_layer"]}
    layer.update((k, v) for k, v in wl.extra.items() if k in names)
    unknown = set(layer) - names
    if unknown:
        raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
    return loop, e2e, layer, len(loop.times)


def report(args, spec, loop, e2e, layer, n_timed) -> dict:
    print(f"# workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"{n_timed} timed call(s), {loop.attempted} attempted, {loop.failed} failed")
    print("# timed calls (s): " + " ".join(f"{t:.3f}" for t in loop.times))
    for err in loop.errors:
        print(f"# CHECK FAILED: {err}")
    for name, unit in REPORTED:
        v = e2e.get(name)
        print(f"e2e {name} = " + ("n/a for this workload" if v is None else f"{v:.6g} {unit}"))
    if args.trace:
        for m in spec["per_layer"]:
            print(f"layer {m['name']} = {layer.get(m['name'], 0.0):.6g} {m['unit']}")
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = layer.get(m["name"], 0.0) if args.trace else e2e.get(m["name"])
        if v is not None:
            metrics[m["name"]] = {"value": float(v), "unit": m["unit"]}
    return metrics


def run_all(args) -> int:
    failed = 0
    for name in WORKLOADS:
        cmd = [sys.executable, __file__, "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        failed += subprocess.run(cmd).returncode != 0
    return 1 if failed else 0


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    if not (ROOT / PACKAGE).is_dir():
        print(f"perfbench: package {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    scratch = ROOT / ".perfbench_run" / f"{args.workload}-{os.getpid()}"
    configure_env(scratch)
    try:
        loop, e2e, layer, n_timed = run(args, spec, scratch, t_start)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            scratch.parent.rmdir()  # only when no other run is using it
        except OSError:
            pass
    metrics = report(args, spec, loop, e2e, layer, n_timed)
    correct = loop.failed == 0 and n_timed > 0
    print(json.dumps({
        "correct": correct,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
