"""Spans, Spark event-log reduction and host/JVM probes.

Spans are recorded from the benchmark's own code around calls into the
program's public functions; nothing inside the program is instrumented.
With tracing off, ``Tracer.span`` records nothing.
"""
from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float          # time.time(), seconds since the epoch
    end: float
    parent: int | None    # index of the enclosing span
    op: str | None        # the op this span belongs to

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Keeps spans in memory; ``dump`` writes them out at the end."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), 0.0, parent, op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the time its
        direct children cover (children never overlap: one client)."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.dur
        out = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s.name] += s.dur - child[i]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


# ------------------------------------------------------------ event log

_SQL = "org.apache.spark.sql.execution.ui."


def _scan_file_metric_ids(plan: dict, out: set) -> None:
    for m in plan.get("metrics", ()):
        if m.get("name") == "number of files read":
            out.add(m["accumulatorId"])
    for c in plan.get("children", ()):
        _scan_file_metric_ids(c, out)


class EventLog:
    """Spark's JSON event log reduced to per-job, per-stage and per-task
    records, attributed to ops by time window."""

    def __init__(self, log_dir: str):
        paths = [p for p in glob.glob(os.path.join(log_dir, "*"))
                 if not p.endswith(".inprogress")]
        if len(paths) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, "
                               f"found {paths}")
        self.jobs: dict[int, dict] = {}          # job id -> start, stages
        self.stage_job: dict[int, int] = {}
        self.stages_done: list[int] = []
        self.tasks: list[tuple[int, dict, dict]] = []
        self.exec_start: dict[int, float] = {}   # sql execution -> s
        file_ids: set = set()
        files_by_exec: dict[int, int] = defaultdict(int)
        with open(paths[0]) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    self.jobs[ev["Job ID"]] = {
                        "t": ev["Submission Time"] / 1000.0}
                    for sid in ev["Stage IDs"]:
                        self.stage_job.setdefault(sid, ev["Job ID"])
                elif kind == "SparkListenerStageCompleted":
                    self.stages_done.append(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    self.tasks.append((ev["Stage ID"], ev["Task Info"],
                                       ev.get("Task Metrics") or {}))
                elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                              _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                    if "time" in ev:
                        self.exec_start[ev["executionId"]] = ev["time"] / 1e3
                    _scan_file_metric_ids(ev["sparkPlanInfo"], file_ids)
                elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                    for acc_id, value in ev["accumUpdates"]:
                        if acc_id in file_ids:
                            files_by_exec[ev["executionId"]] += value
        self.files_by_exec = files_by_exec

    def per_op(self, windows: list[tuple[float, float]]) -> dict[str, float]:
        """Mean per op of every counter, over ops whose [start, end]
        epoch-second windows are given."""
        def op_of(t: float) -> int | None:
            for i, (a, b) in enumerate(windows):
                if a <= t <= b:
                    return i
            return None

        job_op = {j: op_of(r["t"]) for j, r in self.jobs.items()}
        stage_op = {s: job_op.get(j) for s, j in self.stage_job.items()}
        tot = defaultdict(float)
        tot["spark.jobs"] = sum(o is not None for o in job_op.values())
        tot["spark.stages"] = sum(stage_op.get(s) is not None
                                  for s in self.stages_done)
        for sid, info, m in self.tasks:
            if stage_op.get(sid) is None:
                continue
            tot["spark.tasks"] += 1
            run_ms = m.get("Executor Run Time", 0)
            tot["spark.run_s"] += run_ms / 1e3
            tot["spark.cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            tot["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3
            dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
            delay = dur - run_ms - m.get("Executor Deserialize Time", 0) \
                - m.get("Result Serialization Time", 0) \
                - info.get("Getting Result Time", 0)
            tot["spark.sched_delay_s"] += max(0, delay) / 1e3
            sr = m.get("Shuffle Read Metrics", {})
            tot["shuffle.read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                          + sr.get("Local Bytes Read", 0))
            tot["shuffle.write_bytes"] += m.get(
                "Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            tot["shuffle.spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                           + m.get("Disk Bytes Spilled", 0))
            tot["scan.bytes"] += m.get("Input Metrics", {}).get(
                "Bytes Read", 0)
        for ex, n in self.files_by_exec.items():
            if op_of(self.exec_start.get(ex, -1.0)) is not None:
                tot["scan.files"] += n
        n_ops = max(1, len(windows))
        return {k: v / n_ops for k, v in tot.items()}

    def jobs_in(self, windows: list[tuple[float, float]]) -> float:
        """Mean number of jobs submitted inside each window."""
        n = sum(any(a <= r["t"] <= b for a, b in windows)
                for r in self.jobs.values())
        return n / max(1, len(windows))


# ------------------------------------------------------------ streaming

def progress_listener():
    """A StreamingQueryListener that keeps every progress's durationMs."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.durations: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.durations.append(dict(event.progress.durationMs))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Progress()


# ------------------------------------------------------------ host / JVM

def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def jvm_memory(spark) -> tuple[float, float]:
    """(peak RSS MB of the driver JVM, live heap MB after a full GC)."""
    jvm = spark.sparkContext._jvm
    pid = jvm.java.lang.ProcessHandle.current().pid()
    peak = 0.0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                peak = int(line.split()[1]) / 1024.0
    jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    return peak, (rt.totalMemory() - rt.freeMemory()) / 2**20
