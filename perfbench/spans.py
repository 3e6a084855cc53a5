"""Spans, Spark job counting and the statistics the benchmark reports.

A span records one call into a layer: its name, start, end, the span
that caused it, the operation it belongs to, and how many Spark jobs and
stages started while it was open. Spans stay in memory and are written
out once, when the run ends.

Job and stage counts come from the DAG scheduler's id counters, which
every job in the application advances, including jobs that a streaming
query's own threads launch. Counting by job group misses those.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from collections.abc import Iterator


class SparkCounters:
    """Jobs and stages started so far in this Spark application."""

    def __init__(self, spark) -> None:
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()

    def read(self) -> tuple[int, int]:
        return int(self._dag.nextJobId()), int(self._dag.nextStageId())


class Tracer:
    """In-memory span recorder.

    ``enabled=False`` records nothing and costs one attribute test per
    call, so an untraced run times the same code path without tracing.
    """

    def __init__(self, counters: SparkCounters | None, enabled: bool) -> None:
        self.enabled = enabled
        self._counters = counters
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op = 0
        self.window = False
        self.bookkeeping_s = 0.0

    def new_op(self) -> int:
        self._op += 1
        return self._op

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[dict | None]:
        if not self.enabled:
            yield None
            return
        b0 = time.perf_counter()
        jobs0, stages0 = self._counters.read()
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self._op,
            "timed": self.window,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        start = time.perf_counter()
        if self.window:
            self.bookkeeping_s += start - b0
        try:
            yield rec
        finally:
            end = time.perf_counter()
            jobs1, stages1 = self._counters.read()
            self._stack.pop()
            rec.update(
                start=start,
                end=end,
                jobs=jobs1 - jobs0,
                stages=stages1 - stages0,
            )
            if self.window:
                self.bookkeeping_s += time.perf_counter() - end

    def named(self, name: str, timed_only: bool = False) -> list[dict]:
        return [
            s
            for s in self.spans
            if s["name"] == name and "end" in s and (s["timed"] or not timed_only)
        ]

    def per_op(self, names: set[str], key: str) -> list[float]:
        """Per timed operation, the sum of ``key`` (``"s"`` for time,
        ``"jobs"`` or ``"stages"``) over its spans called any of ``names``."""
        sums = {s["op"]: 0.0 for s in self.named("op", timed_only=True)}
        for s in self.spans:
            if s["name"] in names and s["op"] in sums and "end" in s:
                v = s["end"] - s["start"] if key == "s" else s[key]
                sums[s["op"]] += v
        return list(sums.values())

    def self_times(self) -> dict[str, float]:
        """Summed self time per span name: duration minus the time its
        direct children cover."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if "end" in s:
                own = s["end"] - s["start"] - child.get(s["id"], 0.0)
                out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, as
    ``(value, percentile)``: the 11th largest sample. Fewer than eleven
    samples give the maximum at percentile 100."""
    if not values:
        return 0.0, 100.0
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


def vm_hwm_kb(pid: int) -> int:
    """Peak resident set size of ``pid`` in KiB (``VmHWM``), 0 if gone."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pid(spark) -> int | None:
    """Process id of the driver JVM this Python process launched."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is None:
        return None
    for pid in _descendants(proc.pid, include_self=True):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() == "java":
                    return pid
        except OSError:
            continue
    return None


def _descendants(pid: int, include_self: bool) -> list[int]:
    out = [pid] if include_self else []
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as fh:
            kids = [int(x) for x in fh.read().split()]
    except OSError:
        return out
    for k in kids:
        out.extend(_descendants(k, include_self=True))
    return out
