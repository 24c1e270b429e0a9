"""Session-window arg-max dedup (SURVEY §2.4 W1/W2).

Reference: keyBy(unique_cdr_id) → ProcessingTimeSessionWindows
.withGap(1000 ms) → MaxStartTimeAggregate (EnrichmentApp.java:142-156,
376-403): per CDR id, once the key is quiet for 1 s, emit the single
row with the max dimension start_time.

Two forms share one semantics — event time with a watermark in place of
Flink's processing-time trigger, which makes the stream replayable
(SURVEY §7.4 hard-part #1):

- `session_argmax_dedup` is Spark's own operator:
  `F.session_window(ts, gap)` + `F.max_by(struct)` in the streaming
  state store. Spark evicts a session using the watermark of the
  PREVIOUS micro-batch, so a closed session is emitted one trigger
  after the batch that closed it. Every batch caller uses it.
- `SessionCloser` closes sessions on the driver inside foreachBatch,
  against a watermark that includes the current batch, as Flink fires
  a window once the watermark passes its end. Every stream sink of
  `app.run` uses it. Its open sessions and watermark
  live in ``<checkpoint>/sessions``.

`dropDuplicatesWithinWatermark` is the bounded-state alternative when
only row identity (not arg-max) matters.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from flink_application_spark.plans.cdr import _ASOF_ORDER_SPARK


def session_argmax_dedup(
    df: DataFrame,
    key_cols: list[str],
    order_col: str | Column,
    ts_col: str = "proc_time",
    gap: str = "1 second",
    watermark_delay: str = "2 seconds",
    keep_window: bool = False,
) -> DataFrame:
    """Per (session window, key), keep the row maximizing `order_col`.

    Works on streaming *and* batch DataFrames (`session_window` is
    supported in both since Spark 3.2); the batch form is the oracle
    for the stream form in tests.
    """
    payload = [c for c in df.columns]
    is_streaming = df.isStreaming
    if is_streaming:
        df = df.withWatermark(ts_col, watermark_delay)
    order = F.col(order_col) if isinstance(order_col, str) else order_col
    agg = (
        df.groupBy(F.session_window(F.col(ts_col), gap).alias("session"), *key_cols)
        .agg(F.max_by(F.struct(*payload), order).alias("_best"))
    )
    cols = (["session.start", "session.end"] if keep_window else []) + ["_best.*"]
    out = agg.select(*cols)
    # the window-keyed variant exposes session bounds for tests
    return out


def _gap_us(spark: SparkSession, gap: str) -> int:
    """``gap`` in µs, read as ``session_window`` reads it: the string is
    cast to an interval by Spark's own parser. A month-valued gap has no
    fixed length and is refused; days count 24 h (the session time zone
    is UTC)."""
    from py4j.java_gateway import get_field

    jvm = spark._jvm
    iv = jvm.org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
        jvm.org.apache.spark.unsafe.types.UTF8String.fromString(gap)
    )
    if get_field(iv, "months"):
        raise ValueError(f"session gap {gap!r}: a month has no fixed length")
    us = get_field(iv, "days") * 86_400_000_000 + get_field(iv, "microseconds")
    if us <= 0:
        raise ValueError(f"session gap {gap!r} must be positive")
    return us


def _delay_ms(spark: SparkSession, delay: str) -> int:
    """``delay`` in ms exactly as ``withWatermark`` reads it."""
    jvm = spark._jvm
    iv = jvm.org.apache.spark.sql.catalyst.util.IntervalUtils.fromIntervalString(delay)
    return int(jvm.org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark.getDelayMs(iv))


_START, _END = "_session_start", "_session_end"
_WATERMARK = b"watermark_ms"


class SessionCloser:
    """Driver-side session-window arg-max over one micro-batch at a time.

    Called from foreachBatch with the batch as an Arrow table of
    `pipeline.enrichment_candidates` rows (`pipeline.lookup_candidates`
    builds them on the driver): those with ``_asof`` set are
    Path-B candidates, the others pass through. Per batch, vectorised
    over Arrow and numpy:

    1. candidates at or behind ``W_prev`` (the watermark after the
       previous batch) are dropped and counted as late;
    2. the rest merge with the open sessions into
       ``session_window(proc_time, gap)`` sessions per
       ``unique_cdr_id``, each keeping its max under
       ``plans.cdr._ASOF_ORDER_SPARK`` (NULL lowest, as in
       ``max_by(struct)``);
    3. ``W = max(W_prev, max proc_time − delay)``, in whole ms, as
       Spark's watermark tracker computes it;
    4. the pass-through rows and every session whose end is ``<= W``
       are returned;
    5. the open sessions and ``W`` are committed to
       ``<state_dir>/_batch=<id>`` through the sinks' one Arrow writer,
       and older state directories are pruned.

    Sessions merge when one starts at or before the other's end, and a
    session is closed once its end is at or behind the watermark — the
    comparisons of Spark's session window. A replay of batch ``id``
    reads the state committed by the latest batch before ``id``, never
    its own; the in-memory copy serves only the batch right after it.
    So a replayed batch returns and commits the same rows.

    Spark drops a late row only when its session ends at or behind the
    watermark of one batch earlier still; here a candidate is late once
    its own timestamp is at or behind ``W_prev`` — exactly ``delay``
    behind the latest timestamp of an earlier batch. That is what keeps
    a closed session from reopening.

    ``last_batch_metrics`` holds, for the last batch, the numbers Spark
    reports under ``stateOperators``: open sessions
    (``numRowsTotal``), their Arrow bytes (``memoryUsedBytes``) and
    late rows (``numRowsDroppedByWatermark``)."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        *,
        gap: str = "1 second",
        watermark_delay: str = "2 seconds",
    ) -> None:
        self.state_dir = state_dir
        self.gap_us = _gap_us(spark, gap)
        self.delay_ms = _delay_ms(spark, watermark_delay)
        self.watermark_ms = 0
        self.last_batch_metrics = {"state_rows": 0, "state_bytes": 0, "late_rows": 0}
        self._mem: tuple[int, object, int] | None = None  # (batch id, state, W)

    def _load(self, batch_id: int):
        """(open sessions or None, W) as committed before ``batch_id``."""
        import glob

        import pyarrow.parquet as pq

        from flink_application_spark.streaming.sinks import committed_batch_dirs

        if self._mem is not None and self._mem[0] == batch_id - 1:
            return self._mem[1], self._mem[2]
        before = [
            (int(p.rsplit("=", 1)[1]), p) for p in committed_batch_dirs(self.state_dir)
        ]
        before = [b for b in before if b[0] < batch_id]
        if not before:
            return None, 0
        (path,) = glob.glob(os.path.join(max(before)[1], "*.parquet"))
        state = pq.read_table(path)
        return state.replace_schema_metadata(None), int(state.schema.metadata[_WATERMARK])

    def __call__(self, table, batch_id: int):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        from flink_application_spark.streaming.sinks import (
            _commit_arrow_batch,
            vacuum_snapshots,
        )

        state, w_prev = self._load(batch_id)
        flag = pc.fill_null(table["_asof"], False)
        direct = table.filter(pc.invert(flag))
        cand = table.filter(flag)
        cand = cand.filter(pc.is_valid(cand["proc_time"]))
        ts = cand["proc_time"].cast(pa.int64()).to_numpy()

        late = ts <= w_prev * 1000
        w = w_prev
        if len(ts):
            top = int(ts.max())
            top_ms = top // 1000 if top >= 0 else -(-top // 1000)  # Long division
            w = max(w_prev, top_ms - self.delay_ms)
        rows, start = cand.filter(pa.array(~late)), ts[~late]
        end = start + self.gap_us
        if state is not None:
            rows = pa.concat_tables([state.drop_columns([_START, _END]).cast(cand.schema), rows])
            start = np.concatenate([state[_START].to_numpy(), start])
            end = np.concatenate([state[_END].to_numpy(), end])

        best, s_start, s_end = self._sessions(rows, start, end)
        closed = s_end <= w * 1000
        new_state = (
            best.filter(pa.array(~closed))
            .append_column(_START, pa.array(s_start[~closed]))
            .append_column(_END, pa.array(s_end[~closed]))
        )
        _commit_arrow_batch(
            new_state.replace_schema_metadata({_WATERMARK: str(w)}),
            self.state_dir,
            batch_id,
            (),
            None,
        )
        vacuum_snapshots(self.state_dir, min_live_batch=batch_id)
        self._mem = (batch_id, new_state, w)
        self.watermark_ms = w
        self.last_batch_metrics = {
            "state_rows": new_state.num_rows,
            "state_bytes": new_state.nbytes,
            "late_rows": int(late.sum()),
        }
        return pa.concat_tables([direct, best.filter(pa.array(closed))])

    def _sessions(self, rows, start, end):
        """Group ``rows``, spanning [``start``, ``end``) µs each, into
        sessions per key. Returns the best row of each session and the
        session bounds, in key then start order."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        n = rows.num_rows
        if n == 0:
            return rows, start, end
        order = pc.sort_indices(
            rows.append_column(_START, pa.array(start)),
            sort_keys=[("unique_cdr_id", "ascending"), (_START, "ascending")],
            null_placement="at_end",
        )
        rows = rows.take(order)
        start, end = start[order.to_numpy()], end[order.to_numpy()]
        key = rows["unique_cdr_id"]
        a, b = key.slice(1), key.slice(0, n - 1)
        same = pc.fill_null(pc.equal(a, b), False)
        same = pc.or_(same, pc.and_(pc.is_null(a), pc.is_null(b)))
        first = np.concatenate([[True], ~same.to_numpy(zero_copy_only=False)])
        # the largest end so far within the key: a cumulative max over
        # (key group, end) codes, which restarts at each key
        group = np.cumsum(first) - 1
        ends, rank = np.unique(end, return_inverse=True)
        running = ends[np.maximum.accumulate(group * len(ends) + rank) % len(ends)]
        # a row opens a session when it starts after that end; one that
        # starts exactly at it merges, as in Spark
        new = first.copy()
        new[1:] |= start[1:] > running[:-1]
        bounds = np.flatnonzero(new)
        tagged = rows.append_column("_sid", pa.array(np.cumsum(new) - 1))
        # sort_indices is stable: on a tie the earlier row (state before
        # batch) keeps the session, as max_by keeps its first value
        ranked = tagged.take(
            pc.sort_indices(
                tagged,
                sort_keys=[("_sid", "ascending")]
                + [(c, "descending") for c in _ASOF_ORDER_SPARK],
                null_placement="at_end",
            )
        )
        top = np.flatnonzero(np.diff(ranked["_sid"].to_numpy(), prepend=-1))
        best = ranked.take(pa.array(top)).drop_columns(["_sid"])
        return best, start[bounds], np.maximum.reduceat(end, bounds)
