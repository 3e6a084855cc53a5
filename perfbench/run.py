#!/usr/bin/env python3
"""Lakehouse benchmark: one workload, one seed, one result line.

Run from the repository root::

    python3 perfbench/run.py --workload erasure_cycle --seed 1 --seconds 10 --trace 0

Workloads: ``erasure_cycle`` (erasure.py) and ``query_suite``
(suite.py). Each is one client in a closed
loop on ``local[<cores>]``. The inputs come from ``--seed`` alone; the
engine sees only the generated tables.

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` records spans around every call the benchmark makes into
the engine and reports the per-layer metrics instead. An earlier stdout
line (``"detail": "perfbench"``) carries the workload's own figures,
the per-layer times and the failures seen. The last stdout line is the
result: ``{"correct", "attempted", "failed", "metrics"}``.

Everything the run writes stays under ``.bench_work/`` (removed at exit)
and ``.bench_out/`` (span dumps of traced runs) in the repository root.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = {
    "erasure_cycle": "erasure",
    "query_suite": "suite",
}

# Spans whose time is the statement's build (the call that returns the
# DataFrame, including any commit it runs eagerly) and its action.
BUILD_SPANS = {"lake.sql.delete", "lake.sql.plan", "suite.plan"}
ACTION_SPANS = {"lake.sql.exec", "suite.exec"}

# Per-layer metrics every workload reports; the rest start with one of
# the prefixes in its module's ``LAYERS``, and read 0 on a workload that
# never reaches that layer.
COMMON_LAYERS = ("op.", "spark.", "trace.")

# The driver JVM's heap is fixed and touched up front, so peak RSS does
# not swing with the garbage collector's heap-sizing decisions from run
# to run; it moves with Python and JVM off-heap memory.
DRIVER_MEMORY = "1g"


def _parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Run:
    """What one workload run shares with the benchmark: the session, the
    tracer, the clock of the timed window and the checks it made."""

    def __init__(self, spark, tracer, counters, seed: int, seconds: float, work: str):
        self._born = time.perf_counter()
        self.spark = spark
        self.tracer = tracer
        self.counters = counters
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.layer: dict[str, list[float]] = {}
        self.diag: dict = {}
        self.setup_reps: list[float] = []
        self.ops: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.window_s = 0.0
        self.window_jobs = (0, 0)
        self._t0 = 0.0
        self._c0 = (0, 0)
        self.marks: dict[str, float] = {}

    def mark(self, phase: str) -> None:
        """Record when ``phase`` ended, in seconds since the session began."""
        self.marks[phase] = time.perf_counter() - self._born

    def check(self, ok: bool, message: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(message)

    def start_clock(self) -> None:
        self.mark("warmed")
        if self.tracer.enabled:
            self._c0 = self.counters.read()
        self.tracer.window = True
        self._t0 = time.perf_counter()

    def expired(self) -> bool:
        return time.perf_counter() - self._t0 >= self.seconds

    def stop_clock(self) -> None:
        self.window_s = time.perf_counter() - self._t0
        self.mark("window")
        self.tracer.window = False
        if self.tracer.enabled:
            c1 = self.counters.read()
            self.window_jobs = (c1[0] - self._c0[0], c1[1] - self._c0[1])


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``,
    and pin the session to this host's cores and to UTC."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the short-lived JVM spark-submit starts to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["TZ"] = "UTC"
    time.tzset()


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, all cores."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _metric_values(run: Run, trace: bool, session_s: float, rss_mb: float) -> dict:
    from spans import median

    if not trace:
        return {
            "setup_s": session_s + median(run.setup_reps),
            "op_p50_s": median(run.ops),
            "ops_per_s": len(run.ops) / run.window_s,
            "peak_rss_mb": rss_mb,
        }
    t = run.tracer
    out = {
        "op.build_s": median(t.per_op(BUILD_SPANS, "s")),
        "op.action_s": median(t.per_op(ACTION_SPANS, "s")),
        "op.jobs": median(t.per_op({"op"}, "jobs")),
        "op.stages": median(t.per_op({"op"}, "stages")),
        "spark.jobs": float(run.window_jobs[0]),
        "spark.stages": float(run.window_jobs[1]),
        "trace.op_p50_s": median(run.ops),
        "trace.bookkeeping_s": t.bookkeeping_s,
    }
    for name in {s["name"] for s in t.spans} - {"op"}:
        spans = t.named(name)
        out[f"{name}_s"] = median([s["end"] - s["start"] for s in spans])
        out[f"{name}_jobs"] = median([s["jobs"] for s in spans])
    for name, values in run.layer.items():
        out[name] = median(values)
    return out


def _layer_times(tracer) -> dict:
    from spans import median

    self_s = tracer.self_times()
    out = {}
    for name in sorted({s["name"] for s in tracer.spans}):
        spans = tracer.named(name)
        out[name] = {
            "s": median([s["end"] - s["start"] for s in spans]),
            "jobs": median([s["jobs"] for s in spans]),
            "calls": len(spans),
            "self_s_total": self_s.get(name, 0.0),
        }
    return out


def _remove_work(work: str) -> None:
    """Remove this run's scratch directory, and its parent once empty."""
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass  # another run's directory is still there


def _stop_spark(spark) -> None:
    """Stop the session, then its JVM, and wait for the JVM to exit."""
    from py4j.protocol import Py4JError

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except (Py4JError, OSError):  # already gone; the JVM wait below decides
        traceback.print_exc()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str]) -> int:
    args = _parse(argv)
    spec = _spec()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    _prepare_env(work)
    sys.path[:0] = [HERE, ROOT]
    try:
        importlib.import_module("demo_iceberg_permanent_delete_spark.lake")
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable: {exc}", file=sys.stderr)
        _remove_work(work)
        return 2

    from spans import SparkCounters, Tracer, jvm_pid, tail, vm_hwm_kb

    from demo_iceberg_permanent_delete_spark.session import get_spark

    steal0 = _steal_s()
    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf={
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData "
                f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
            ),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        },
    )
    session_s = time.perf_counter() - t0
    counters = SparkCounters(spark)
    tracer = Tracer(counters, enabled=bool(args.trace))
    run = Run(spark, tracer, counters, args.seed, args.seconds, work)
    module = importlib.import_module(WORKLOADS[args.workload])
    crashed = False
    try:
        module.run_workload(run)
    except Exception:
        crashed = True
        run.attempted += 1
        run.failed += 1
        run.failures.append(traceback.format_exc(limit=3))
        traceback.print_exc()

    run.mark("checks")
    jvm = jvm_pid(spark)
    rss_py_mb = vm_hwm_kb(os.getpid()) / 1024.0
    rss_jvm_mb = (vm_hwm_kb(jvm) if jvm else 0) / 1024.0
    rss_mb = rss_py_mb + rss_jvm_mb
    values = _metric_values(run, bool(args.trace), session_s, rss_mb)
    if args.trace:
        out_dir = os.path.join(ROOT, ".bench_out")
        tracer.write(os.path.join(out_dir, f"{args.workload}-seed{args.seed}.spans.jsonl"))
    diag = {
        "detail": "perfbench",
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "params": module.PARAMS,
        "master": spark.sparkContext.master,
        "host": {"steal_s": _steal_s() - steal0, "loadavg": os.getloadavg()},
        "session_s": session_s,
        "peak_rss_mb": {"python": rss_py_mb, "jvm": rss_jvm_mb},
        "setup_reps_s": run.setup_reps,
        "window_s": run.window_s,
        "op_samples": len(run.ops),
        "op_tail_s": tail(run.ops)[0],
        "op_tail_percentile": tail(run.ops)[1],
        "ops_failed_ratio": run.failed / max(run.attempted, 1),
        "failures": run.failures[:5],
        "workload_metrics": run.diag,
    }
    if args.trace:
        diag["layers"] = _layer_times(tracer)
    _stop_spark(spark)
    run.mark("stopped")
    diag["phase_end_s"] = run.marks
    _remove_work(work)

    section = spec["per_layer"] if args.trace else spec["end_to_end"]
    reached = COMMON_LAYERS + module.LAYERS if args.trace else ("",)
    metrics = {}
    for m in section:
        name, unit = m["name"], m["unit"]
        if name not in values and name.startswith(reached) and not crashed:
            raise KeyError(f"workload {args.workload} produced no {name}")
        metrics[name] = {"value": float(values.get(name, 0.0)), "unit": unit}
    print(json.dumps(diag, default=str))
    print(
        json.dumps(
            {
                "correct": run.failed == 0 and not crashed,
                "attempted": max(run.attempted, 1),
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
