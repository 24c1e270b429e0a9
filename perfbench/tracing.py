"""Traced-run recorder: spans, Spark status-store counters scoped by job
group, streaming progress phases and state-operator metrics, and peak
RSS of the process tree. Spans stay in memory and are written once."""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

MB = 1024 * 1024


class Tracer:
    """Spans with name, start, end, parent and a shared trace id (one per
    workload phase, micro-batch or query execution). Disabled, it records
    nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def add(self, name: str, start: float, end: float, trace_id: str, parent: int | None = None, **attrs) -> int:
        """Record a span whose bounds were measured elsewhere (e.g. the
        phases of a micro-batch taken from its progress report)."""
        if not self.enabled:
            return -1
        span_id = len(self.spans)
        if parent is None and self._stack():
            parent = self._stack()[-1]
        self.spans.append(
            {"id": span_id, "name": name, "start": start, "end": end, "parent": parent, "trace": trace_id, **attrs}
        )
        return span_id

    @contextmanager
    def span(self, name: str, trace_id: str, **attrs):
        if not self.enabled:
            yield
            return
        span_id = self.add(name, time.time(), 0.0, trace_id, **attrs)
        self._stack().append(span_id)
        try:
            yield
        finally:
            self._stack().pop()
            self.spans[span_id]["end"] = time.time()

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def read_status_store(spark) -> tuple[list[dict], list[dict]]:
    """Jobs (id, group, stage ids) and stages (per attempt) from Spark's
    status store, which is kept with the UI disabled."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    jobs = []
    jl = store.jobsList(jvm.java.util.ArrayList())
    for i in range(jl.size()):
        j = jl.apply(i)
        group = j.jobGroup()
        ids = j.stageIds()
        jobs.append(
            {
                "job": j.jobId(),
                "group": group.get() if group.isDefined() else None,
                "stages": [ids.apply(k) for k in range(ids.size())],
            }
        )
    stages = []
    sl = store.stageList(
        jvm.java.util.ArrayList(), False, False, sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList()
    )
    for i in range(sl.size()):
        s = sl.apply(i)
        stages.append(
            {
                "stage": s.stageId(),
                "tasks": s.numCompleteTasks(),
                "run_ms": s.executorRunTime(),
                "cpu_ns": s.executorCpuTime(),
                "gc_ms": s.jvmGcTime(),
                "shuffle_read": s.shuffleReadBytes(),
                "shuffle_write": s.shuffleWriteBytes(),
                "spill": s.diskBytesSpilled(),
            }
        )
    return jobs, stages


def scope_counters(jobs: list[dict], stages: list[dict], groups: set[str]) -> dict[str, float]:
    """Sum stage counters over the jobs whose job group is in ``groups``
    (a streaming query's jobs carry its run id as their group). A stage
    shared by two jobs is counted once; every attempt of it counts."""
    mine = [j for j in jobs if j["group"] in groups]
    ids = {s for j in mine for s in j["stages"]}
    run = [s for s in stages if s["stage"] in ids]
    return {
        "jobs": len(mine),
        "stages": len({s["stage"] for s in run}),
        "tasks": sum(s["tasks"] for s in run),
        "task_run_s": sum(s["run_ms"] for s in run) / 1e3,
        "task_cpu_s": sum(s["cpu_ns"] for s in run) / 1e9,
        "gc_s": sum(s["gc_ms"] for s in run) / 1e3,
        "shuffle_read_mb": sum(s["shuffle_read"] for s in run) / MB,
        "shuffle_write_mb": sum(s["shuffle_write"] for s in run) / MB,
        "spill_mb": sum(s["spill"] for s in run) / MB,
    }


def progress_counters(progress: list[dict]) -> dict[str, float]:
    """Per-batch means of the micro-batch phases over batches that read
    input, plus the state store of the dedup stage over all batches (its
    commit time as a share of all trigger time)."""
    data = [p for p in progress if p["numInputRows"] > 0]
    n = max(len(data), 1)

    def phase(key: str) -> float:
        return sum(p["durationMs"].get(key, 0) for p in data) / n

    ops = [op for p in progress for op in p.get("stateOperators", [])]
    return {
        "batches": len(data),
        "rows_per_batch": sum(p["numInputRows"] for p in data) / n,
        "latest_offset_ms": phase("latestOffset"),
        "get_batch_ms": phase("getBatch"),
        "add_batch_ms": phase("addBatch"),
        "query_planning_ms": phase("queryPlanning"),
        "wal_commit_ms": phase("walCommit"),
        "commit_offsets_ms": phase("commitOffsets"),
        "state_rows": max((op["numRowsTotal"] for op in ops), default=0),
        "state_mb": max((op["memoryUsedBytes"] for op in ops), default=0) / MB,
        "state_commit_pct": 100.0
        * sum(op.get("commitTimeMs", 0) for op in ops)
        / max(sum(p["durationMs"].get("triggerExecution", 0) for p in progress), 1),
        "watermark_dropped": sum(op.get("numRowsDroppedByWatermark", 0) for op in ops),
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_mb(root: int) -> float:
    """Resident memory of ``root`` and all its descendants (the driver
    Python, the JVM it launched and the JVM's Python workers)."""
    kids = _children()
    todo, total = [root], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total / 1024


class RssSampler:
    """Samples the process tree's resident memory every ``period`` s and
    keeps the peak."""

    def __init__(self, period: float = 0.25) -> None:
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))
            if self._stop.wait(self.period):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(5)
