"""`dedup.SessionCloser`: the driver-side session window of the
size-rolled and TTL parquet paths.

Parity: on one multi-batch file stream, Spark's streaming
`session_argmax_dedup` and the closer emit the same rows, the closer
each one micro-batch earlier. The stream holds every comparison the two
must share (merge at exactly `gap`, eviction at a session end equal to
the watermark, NULL order keys) and the one late row on which they
differ by design.
"""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
from pyspark.sql import functions as F

from flink_application_spark.plans.cdr import _ASOF_ORDER_SPARK
from flink_application_spark.streaming.dedup import SessionCloser, session_argmax_dedup

T0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
SCHEMA = pa.schema(
    [
        ("unique_cdr_id", pa.int64()),
        ("tag", pa.string()),
        ("proc_time", pa.timestamp("us", tz="UTC")),
        ("_start_time", pa.timestamp("us", tz="UTC")),
        ("_msisdn", pa.int64()),
        ("start_time", pa.timestamp("us", tz="UTC")),
        ("ms_ip_address", pa.string()),
        ("_asof", pa.bool_()),
    ]
)


def _at(seconds: float | None):
    return None if seconds is None else T0 + dt.timedelta(microseconds=round(seconds * 1e6))


def _batch(*rows) -> pa.Table:
    """rows: (id, tag, t, dim start offset or None, dim msisdn or None)."""
    return pa.table(
        {
            "unique_cdr_id": [r[0] for r in rows],
            "tag": [r[1] for r in rows],
            "proc_time": [_at(r[2]) for r in rows],
            "_start_time": [_at(r[3]) for r in rows],
            "_msisdn": [r[4] for r in rows],
            "start_time": [_at(r[2]) for r in rows],
            "ms_ip_address": [";10.0.0.1;"] * len(rows),
            "_asof": [True] * len(rows),
        },
        schema=SCHEMA,
    )


# gap 1 s, watermark delay 2 s; W_b = max t of batches <= b, minus 2 s
BATCHES = [
    _batch(
        # one session of three candidates; NULL _msisdn ranks lowest
        (1, "1a", 0.0, -10.0, 5),
        (1, "1b", 0.3, -5.0, 5),
        (1, "1c", 0.6, -5.0, None),
        # NULL _start_time ranks lowest
        (3, "3a", 0.2, None, 9),
        (3, "3b", 0.4, -100.0, 1),
        (2, "2a", 1.0, -1.0, 1),
    ),
    _batch(
        # exactly `gap` after 2a, one batch later: the session spans two
        # micro-batches and merges
        (2, "2b", 2.0, -0.5, 1),
        # exactly `gap` apart within the batch: one session
        (4, "4a", 2.5, -1.0, 1),
        (4, "4b", 3.5, -3.0, 1),
        (5, "5a", 3.6, -1.0, 1),
    ),  # W_1 = 1.6: key 1's session ends exactly there and closes
    _batch(
        (6, "6a", 5.0, -1.0, 1),
        # at W_1 exactly: late here; Spark keeps it
        (7, "7a", 1.6, -1.0, 1),
    ),  # W_2 = 3.0 closes key 2 (end 3.0)
    _batch((100, "flush", 100.0, -1.0, 1)),
    _batch((101, "flush2", 200.0, -1.0, 1)),
]


def _emitted(batch_id: int, out: pa.Table) -> set[tuple[int, int, str]]:
    return {(batch_id, i, t) for i, t in zip(out["unique_cdr_id"].to_pylist(), out["tag"].to_pylist())}


def _write_stream_files(src: str) -> None:
    import pyarrow.parquet as pq

    os.makedirs(src)
    for i, t in enumerate(BATCHES):
        path = os.path.join(src, f"part-{i}.parquet")
        pq.write_table(t, path)
        os.utime(path, (1_700_000_000 + 10 * i,) * 2)  # the file source orders by mtime


def _run(spark, src, ckpt, fn, plan=lambda df: df):
    q = (
        plan(
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        .writeStream.foreachBatch(fn)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert q.exception() is None


def test_closer_emits_spark_rows_one_batch_earlier(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_stream_files(src)

    # Spark's operator; a memory sink does not record the batch id, so
    # collect each batch's rows through foreachBatch
    by_spark: set[tuple[int, int, str]] = set()

    def dedup(df):
        return session_argmax_dedup(
            df,
            key_cols=["unique_cdr_id"],
            order_col=F.struct(*[F.col(c) for c in _ASOF_ORDER_SPARK]),
            ts_col="proc_time",
            gap="1 second",
            watermark_delay="2 seconds",
        )

    # one micro-batch per file on both sides: no eviction-only batches
    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    spark.conf.set(key, "false")
    try:
        _run(
            spark,
            src,
            str(tmp_path / "ckpt_spark"),
            lambda df, b: by_spark.update((b, r.unique_cdr_id, r.tag) for r in df.collect()),
            dedup,
        )
    finally:
        spark.conf.unset(key)

    closer = SessionCloser(spark, str(tmp_path / "sessions"))
    by_closer: set[tuple[int, int, str]] = set()
    late: list[int] = []

    def close(df, b):
        out = closer(df.toArrow(), b)
        by_closer.update(_emitted(b, out))
        late.append(closer.last_batch_metrics["late_rows"])

    _run(spark, src, str(tmp_path / "ckpt_closer"), close)

    assert by_spark == {
        (2, 1, "1b"),
        (2, 3, "3b"),
        (3, 2, "2b"),
        (3, 7, "7a"),
        (4, 4, "4a"),
        (4, 5, "5a"),
        (4, 6, "6a"),
    }
    # the same rows one batch earlier, but for the row the closer drops
    # as late (Spark filters late rows against an older watermark)
    assert by_closer == {(b - 1, i, t) for b, i, t in by_spark if i != 7} | {(4, 100, "flush")}
    assert late == [0, 0, 1, 0, 0]


def test_late_rows_are_dropped_at_the_previous_watermark(spark, tmp_path):
    closer = SessionCloser(spark, str(tmp_path / "sessions"))
    emitted: list[int] = []

    def step(batch_id, *rows):
        out = closer(_batch(*rows), batch_id)
        emitted.extend(out["unique_cdr_id"].to_pylist())
        return closer.last_batch_metrics

    m = step(0, (1, "1a", 10.0, -1.0, 1))
    assert (m["state_rows"], m["late_rows"]) == (1, 0) and m["state_bytes"] > 0
    assert closer.watermark_ms == int(T0.timestamp()) * 1000 + 8_000
    m = step(
        1,
        (2, "2a", 8.0, -1.0, 1),  # at W_prev: late
        (8, "8a", 7.9, -1.0, 1),  # behind it: late
        (3, "3a", 8.000001, -1.0, 1),  # 1 µs ahead: kept
        (1, "1b", 10.5, -1.0, 1),  # joins key 1's open session
    )
    assert m["late_rows"] == 2 and m["state_rows"] == 2 and m["state_bytes"] > 0
    step(2, (100, "flush", 100.0, -1.0, 1))  # closes keys 1 and 3
    assert sorted(emitted) == [1, 3]
    # key 1 again, at the watermark that closed its session: late, so the
    # closed session is not reopened and emitted a second time
    assert step(3, (1, "1c", 98.0, -1.0, 1))["late_rows"] == 1
    step(4, (101, "flush2", 200.0, -1.0, 1))
    assert sorted(emitted) == [1, 3, 100]


def test_a_stored_session_spans_rows_that_arrive_out_of_order(spark, tmp_path):
    """A stored session ends one gap after its last row. A row that
    arrives later but sits inside the session ends earlier than it, so
    the next row merges by the session's end, not that row's."""
    closer = SessionCloser(spark, str(tmp_path / "sessions"))
    emitted = []
    for b, rows in enumerate(
        [
            [(1, tag, t, -1.0, 1) for tag, t in (("a", 0.0), ("b", 0.9), ("c", 1.8), ("d", 2.7))],
            # W_0 = 0.7; e ends at 2.0 and f starts after it, but both lie
            # inside key 1's session [0, 3.7); W_1 = 3.6 passes f's end
            [(1, "e", 1.0, -1.0, 1), (1, "f", 2.5, -1.0, 1), (2, "x", 5.6, -1.0, 1)],
            [(9, "flush", 100.0, -1.0, 1)],
        ]
    ):
        emitted.append(closer(_batch(*rows), b)["tag"].to_pylist())
    assert emitted == [[], [], ["d", "x"]]


def test_intervals_are_read_by_spark(spark, tmp_path):
    closer = SessionCloser(
        spark, str(tmp_path / "s"), gap="1 hour", watermark_delay="1 minute 1500 microseconds"
    )
    assert closer.gap_us == 3_600_000_000
    assert closer.delay_ms == 60_001


def test_ttl_path_keeps_one_session_across_batches(spark, tmp_path):
    """One CDR id whose two source rows land in consecutive micro-batches
    within `gap` yields one row (a per-batch dedup splits the session)."""
    from flink_application_spark.streaming.dim_refresh import RefreshingDim
    from flink_application_spark.streaming.pipeline import (
        closing_batch_fn,
        imsi_lookup_dim,
        lookup_projection,
        ms_ip_lookup_dim,
    )

    imsi = spark.createDataFrame([(222, 70000000002)], "imsi bigint, msisdn bigint")
    ms_ip = spark.sql(
        """SELECT CAST('2023-12-31 00:00:00' AS TIMESTAMP) AS start_time,
                  CAST(555 AS BIGINT) AS imsi, CAST(777 AS BIGINT) AS msisdn,
                  ';10.0.0.1;' AS ms_ip_address, 'mo' AS probe"""
    )

    def src(cdr_id, ts):
        return spark.sql(
            f"""SELECT CAST('{ts}' AS TIMESTAMP) AS start_time, 'mo-probe' AS measuring_probe_name,
                       CAST(NULL AS BIGINT) AS imsi, CAST(NULL AS BIGINT) AS msisdn,
                       ';10.0.0.1;' AS ms_ip_address, CAST({cdr_id} AS BIGINT) AS unique_cdr_id"""
        )

    got: list[tuple] = []
    fn = closing_batch_fn(
        RefreshingDim(lambda: imsi_lookup_dim(imsi)),
        RefreshingDim(lambda: ms_ip_lookup_dim(ms_ip)),
        SessionCloser(spark, str(tmp_path / "sessions")),
        lambda t, b: got.extend(zip(t["unique_cdr_id"].to_pylist(), t["imsi"].to_pylist())),
    )
    fn(lookup_projection(src(5, "2024-01-01 00:00:00")), 0)
    fn(lookup_projection(src(5, "2024-01-01 00:00:00.5")), 1)
    fn(lookup_projection(src(-1, "2099-01-01 00:00:00")), 2)  # the watermark passes key 5's session
    assert got == [(5, 555)]


def test_closer_matches_a_loop_reference_on_random_batches(spark, tmp_path):
    """The vectorised merge against a per-key loop over the whole input:
    the same best row per session, emitted in the first batch whose
    watermark reaches the session end. Rows arrive out of order across
    batches, but never at or behind the previous watermark."""
    import random

    rng = random.Random(7)
    batches, rows = [], []
    for b in range(12):
        batch = []
        for _ in range(rng.randrange(0, 25)):
            # ms, up to 1.5 s before the previous batch's last row and
            # still after its watermark (at most 4b - 2 s)
            t = 4000 * b - 1500 + rng.randrange(5500)
            dim_start, dim_msisdn = rng.choice([None, -1.0, -2.0]), rng.choice([None, 1, 2])
            row = (rng.randrange(8), f"r{len(rows)}", t, dim_start, dim_msisdn)
            batch.append(row)
            rows.append((b, row))
        batches.append(batch)
    batches.append([(99, "flush", 1_000_000, -1.0, 1)])

    # reference, gap 2 s: sort each key's rows by time, merge while a row
    # starts at or before the running end, keep the max under the as-of
    # order
    def rank(row):
        _, _, t, st, ms = row
        return (st is not None, st or 0, ms is not None, ms or 0, t)

    watermarks, w = [], 0
    for batch in batches:
        if batch:
            w = max(w, max(r[2] for r in batch) - 2000)
        watermarks.append(w)
    want = set()
    for key in {r[0] for _, r in rows}:
        mine = sorted((r for _, r in rows if r[0] == key), key=lambda r: r[2])
        sessions: list[list] = []
        for r in mine:
            if sessions and r[2] <= sessions[-1][0]:
                sessions[-1][0] = max(sessions[-1][0], r[2] + 2000)
                sessions[-1][1].append(r)
            else:
                sessions.append([r[2] + 2000, [r]])
        for end, members in sessions:
            best = max(members, key=rank)
            want.add((next(b for b, w in enumerate(watermarks) if w >= end), key, best[1]))

    closer = SessionCloser(spark, str(tmp_path / "sessions"), gap="2 seconds")
    got = set()
    for b, batch in enumerate(batches):
        in_s = [(i, tag, t / 1000, st, ms) for i, tag, t, st, ms in batch]
        out = closer(_batch(*in_s) if batch else SCHEMA.empty_table(), b)
        got |= _emitted(b, out)
        assert closer.last_batch_metrics["late_rows"] == 0
    assert got == want
