"""Pure measurement logic: latency attribution and percentile support."""

from __future__ import annotations

from datetime import datetime

import numpy as np


def units_beyond(values: np.ndarray, units: np.ndarray, q: float) -> int:
    """How many distinct units (micro-batches, query executions) hold a
    sample at or above the q-th percentile of ``values``: the number of
    independent observations the percentile's tail rests on."""
    cut = np.percentile(values, q)
    return len(np.unique(units[values >= cut]))


def progress_commit_s(progress: dict) -> float:
    """Wall time (epoch seconds) at which a micro-batch committed: the
    progress ``timestamp`` (trigger start) plus ``triggerExecution``."""
    ts = datetime.strptime(progress["timestamp"], "%Y-%m-%dT%H:%M:%S.%f%z")
    return ts.timestamp() + progress["durationMs"]["triggerExecution"] / 1000.0


def attribute_latency(
    batch_ids: np.ndarray,
    due_s: np.ndarray,
    commit_s: dict[int, float],
    delay_s: np.ndarray | float = 0.0,
) -> np.ndarray:
    """Per output row: commit time of the micro-batch that wrote it minus
    the wall time its event was due, minus the delay the pipeline imposes
    by configuration (session gap + watermark on rows that wait in the
    dedup state). A row whose batch has no recorded commit is an error."""
    missing = set(np.unique(batch_ids).tolist()) - commit_s.keys()
    if missing:
        raise KeyError(f"no commit time for batches {sorted(missing)}")
    commits = np.array([commit_s[int(b)] for b in batch_ids], dtype=np.float64)
    return commits - due_s - delay_s


def backlog_grew(offset_s: np.ndarray, latency_s: np.ndarray, limit_s: float = 1.0) -> bool:
    """True when rows due in the second half of the window waited longer,
    by median, than those of the first half by more than ``limit_s``: a
    system below the offered rate falls further behind as the run goes."""
    mid = (offset_s.min() + offset_s.max()) / 2
    first, second = latency_s[offset_s < mid], latency_s[offset_s >= mid]
    return float(np.median(second)) - float(np.median(first)) > limit_s
