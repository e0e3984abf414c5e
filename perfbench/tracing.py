"""Tracing for the benchmark's traced run.

Spans and per-layer counters are recorded here, by the benchmark, around
its calls into each layer's public functions; nothing inside
``philotes_spark`` is instrumented. Spark's own work per operation is read
from its status store by job group after the operation ends, so the
operation's latency never includes the reading.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict

# per-layer metrics: name -> unit, direction. Every traced run reports all
# of them; a layer the workload does not exercise reads 0.
LAYER_METRICS = {
    "registry.plan_build_s": ("s/op", "lower"),
    "spark.jobs": ("count/op", "lower"),
    "spark.stages": ("count/op", "lower"),
    "spark.tasks": ("count/op", "lower"),
    "spark.shuffle_read_bytes": ("B/op", "lower"),
    "spark.shuffle_write_bytes": ("B/op", "lower"),
    "spark.spill_bytes": ("B/op", "lower"),
    "spark.gc_s": ("s/op", "lower"),
    "spark.executor_run_s": ("s/op", "lower"),
    "spark.executor_cpu_s": ("s/op", "lower"),
    "spark.cpu_share": ("ratio", "higher"),
    "scan.input_bytes": ("B/op", "lower"),
    "scan.input_rows": ("rows/op", "lower"),
    "exec.action_s": ("s/op", "lower"),
    "exec.result_rows": ("rows/op", "higher"),
    "stream.start_ms": ("ms/op", "lower"),
    "stream.trigger_ms": ("ms/op", "lower"),
    "stream.add_batch_ms": ("ms/op", "lower"),
    "stream.query_planning_ms": ("ms/op", "lower"),
    "stream.wal_commit_ms": ("ms/op", "lower"),
    "stream.commit_offsets_ms": ("ms/op", "lower"),
    "snapshots.rows_rewritten_per_change": ("ratio", "lower"),
    "snapshots.bytes_written_per_change_byte": ("ratio", "lower"),
    "snapshots.live_files": ("count", "lower"),
    "snapshots.read_s": ("s/op", "lower"),
    "mix.sql_cold_s": ("s", "lower"),
    "mix.llm_cold_s": ("s", "lower"),
    "mem.peak_rss_mb": ("MB", "lower"),
    "mem.heap_peak_mb": ("MB", "lower"),
    "trace.overhead_frac": ("ratio", "lower"),
}

# the streaming progress durations reported, by StreamingQueryProgress key
STREAM_DURATIONS = {
    "stream.trigger_ms": "triggerExecution",
    "stream.add_batch_ms": "addBatch",
    "stream.query_planning_ms": "queryPlanning",
    "stream.wal_commit_ms": "walCommit",
    "stream.commit_offsets_ms": "commitOffsets",
}

# metrics summed per operation (the rest are ratios or end-of-run values)
_PER_OP = [
    name for name, (unit, _) in LAYER_METRICS.items() if unit.endswith("/op")
]


class NullTracer:
    """The untraced run: every hook is a no-op."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str):
        yield

    @contextlib.contextmanager
    def operation(self, name: str):
        yield

    def attach(self, group: str) -> None:
        pass

    def add(self, metric: str, value: float) -> None:
        pass

    def set(self, metric: str, value: float) -> None:
        pass

    @contextlib.contextmanager
    def overhead(self):
        yield


class Tracer(NullTracer):
    """Records spans (name, start, end, parent, run id) in memory and sums
    per-layer counters per operation. ``overhead()`` brackets the tracer's
    own work, which the run reports as ``trace.overhead_frac``."""

    enabled = True

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.totals: dict[str, float] = defaultdict(float)
        self.values: dict[str, float] = {}
        self.ops = 0
        self.overhead_s = 0.0
        self._group = 0
        self._groups: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"name": name, "start": time.perf_counter(),
                           "end": None, "parent": parent, "run": self.run_id})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    @contextlib.contextmanager
    def operation(self, name: str):
        """One traced operation: a span plus a Spark job group whose jobs
        are read from the status store when the operation ends."""
        sc = self.spark.sparkContext
        self._group += 1
        group = f"{self.run_id}-{self._group}"
        self._groups = [group]
        sc.setJobGroup(group, name)
        try:
            with self.span(name):
                yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            with self.overhead():
                self._read_jobs(self._groups)
            self.ops += 1

    def attach(self, group: str) -> None:
        """Count the jobs of another job group (a streaming query runs its
        batches under its own run id) toward the current operation."""
        self._groups.append(group)

    def _read_jobs(self, groups: list[str]) -> None:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        stages = set()
        job_ids = [j for g in groups for j in tracker.getJobIdsForGroup(g)]
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
        self.totals["spark.jobs"] += len(job_ids)
        for sid in stages:
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            self.totals["spark.stages"] += 1
            self.totals["spark.tasks"] += sd.numCompleteTasks()
            self.totals["spark.executor_run_s"] += sd.executorRunTime() / 1e3
            self.totals["spark.executor_cpu_s"] += sd.executorCpuTime() / 1e9
            self.totals["spark.gc_s"] += sd.jvmGcTime() / 1e3
            self.totals["spark.shuffle_read_bytes"] += sd.shuffleReadBytes()
            self.totals["spark.shuffle_write_bytes"] += sd.shuffleWriteBytes()
            self.totals["spark.spill_bytes"] += (
                sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            )
            self.totals["scan.input_bytes"] += sd.inputBytes()
            self.totals["scan.input_rows"] += sd.inputRecords()

    def add(self, metric: str, value: float) -> None:
        self.totals[metric] += value

    def set(self, metric: str, value: float) -> None:
        self.values[metric] = value

    @contextlib.contextmanager
    def overhead(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t0

    def metrics(self, timed_s: float) -> dict[str, float]:
        ops = max(self.ops, 1)
        out = {name: 0.0 for name in LAYER_METRICS}
        for name in _PER_OP:
            out[name] = self.totals.get(name, 0.0) / ops
        run = self.totals.get("spark.executor_run_s", 0.0)
        out["spark.cpu_share"] = (
            self.totals.get("spark.executor_cpu_s", 0.0) / run if run else 0.0
        )
        out.update(self.values)
        out["trace.overhead_frac"] = self.overhead_s / timed_s if timed_s else 0.0
        return out

    def write_spans(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for span in self.spans:
                fh.write(json.dumps(span) + "\n")


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self time per span name: each span's duration minus the time its
    direct children cover."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    out: dict[str, float] = defaultdict(float)
    for i, s in enumerate(spans):
        out[s["name"]] += s["end"] - s["start"] - child[i]
    return dict(out)
