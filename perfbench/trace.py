"""Spans, per-span Spark counters and process memory, all read from
outside the program.

A span is recorded around each call the benchmark makes into a program
layer: name, start, end, parent span and request id.  Spans stay in
memory and are written out once, when the run ends.  While a span is
open its id is the Spark job group, so the jobs, stages and tasks it
launched are read back from ``SparkContext.statusTracker()`` when it
closes.  A disabled tracer records nothing.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext

# spans whose time is the benchmark's own (counting rows for the trace),
# not a program layer's
BENCH_PREFIX = "bench."


class Tracer:
    def __init__(self, spark, requested: bool):
        # ``requested``: this run will be traced (its warehouse is
        # wrapped); ``enabled``: spans are being recorded right now
        self.requested = requested
        self.enabled = False
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._request: str | None = None

    def span(self, name: str, request: str | None = None, watch: str | None = None):
        """Context manager timing one call.  ``watch`` names a directory
        listed before and after the call (files, bytes and parquet rows
        it gained)."""
        if not self.enabled:
            return nullcontext()
        return self._span(name, request, watch)

    @contextmanager
    def _span(self, name, request, watch):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if request is None:
            request = self.spans[parent]["request"] if parent is not None else self._request
        rec = {"id": sid, "name": name, "parent": parent, "request": request}
        self.spans.append(rec)
        before = list_files(watch) if watch else None
        self._stack.append(sid)
        self.sc.setJobGroup(f"span-{sid}", name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"span-{parent}", self.spans[parent]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            rec.update(self._spark_counts(f"span-{sid}"))
            if before is not None:
                rec.update(dir_delta(before, list_files(watch)))

    @contextmanager
    def scope(self, request: str | None):
        """Spans opened outside every other span take ``request`` as
        their request id while this is open."""
        prev, self._request = self._request, request
        try:
            yield
        finally:
            self._request = prev

    def phase(self, rec: dict | None, key: str, since: float) -> float:
        """Store the time from ``since`` to now under ``key`` of an open
        span (its construct or execute phase); returns now."""
        now = time.perf_counter()
        if rec is not None:
            rec[key] = now - since
        return now

    def count(self, key: str, value: float) -> None:
        if self.enabled:
            self.counts[key] += value

    def _spark_counts(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = failed = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                si = st.getStageInfo(s)
                if si is None:
                    continue
                stages += 1
                tasks += si.numTasks
                failed += si.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self time per span name: each span's duration minus the time its
    child spans cover (children run one after another)."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
    return dict(out)


def list_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


def dir_delta(before: dict[str, int], after: dict[str, int]) -> dict:
    """Parquet files, bytes and rows a call added (rows from the new
    files' footers)."""
    import pyarrow.parquet as pq

    new = [p for p in after if p not in before]
    return {
        "files_written": len(new),
        "bytes_written": sum(after[p] for p in new),
        "rows_written": sum(pq.read_metadata(p).num_rows for p in new),
    }


def _children(pid: int) -> list[int]:
    out = []
    try:
        for task in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{task}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root_pid: int) -> float:
    """The peak resident memory of a process (its kernel high-water
    mark) plus the current resident memory of all its descendants."""
    total, todo = _status_kb(root_pid, "VmHWM:"), _children(root_pid)
    while todo:
        pid = todo.pop()
        total += _status_kb(pid, "VmRSS:")
        todo += _children(pid)
    return total / 1024.0


class RssSampler:
    """Samples the memory of the JVM and its Python workers every
    ``interval`` seconds on a daemon thread; ``peak_mb`` is the largest
    ``tree_rss_mb`` seen.  The JVM's own peak comes from the kernel, so
    it misses no short spike between samples."""

    def __init__(self, jvm_pid: int, interval: float = 0.1):
        self.pid = jvm_pid
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join()
            self._sample()

    def _sample(self) -> None:
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.pid))

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()
