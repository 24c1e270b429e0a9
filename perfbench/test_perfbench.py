"""Tests of the benchmark's pure logic (no Spark):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os

import numpy as np
import pytest

import gen
import stats
from tracing import progress_counters, scope_counters

SHAPE = gen.Shape(subscribers=500, ips=90, versions=3, events_per_file=400, dim_history_s=60, dim_future_s=5)


def _tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                out[os.path.relpath(os.path.join(d, f), root)] = fh.read()
    return out


def _inputs(root: str, seed: int) -> dict[str, bytes]:
    gen.write_dims(SHAPE, seed, root)
    gen.write_events(SHAPE, seed, range(3), os.path.join(root, "src"))
    return _tree_bytes(root)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _inputs(str(tmp_path / "a"), 7)
    b = _inputs(str(tmp_path / "b"), 7)
    c = _inputs(str(tmp_path / "c"), 8)
    assert a == b
    assert a.keys() == c.keys() and a != c


def test_event_file_does_not_depend_on_which_files_are_generated():
    assert gen.parquet_bytes(gen.event_table(SHAPE, 3, 5)) == gen.parquet_bytes(gen.event_table(SHAPE, 3, 5))
    assert gen.event_table(SHAPE, 3, 5) != gen.event_table(SHAPE, 3, 6)


def test_events_follow_reference_distributions():
    t = gen.event_table(SHAPE, 1, 0).to_pydict()
    n = len(t["imsi"])
    assert abs(sum(v is not None for v in t["imsi"]) / n - 0.5) < 0.1
    assert abs(sum(v is not None for v in t["msisdn"]) / n - 0.1) < 0.05
    assert {p[:2] for p in t["measuring_probe_name"]} <= set(gen.PROBES)
    assert all(p.endswith("...") for p in t["measuring_probe_name"])
    assert all(a.startswith(";10.") and a.endswith(";") and a.count(";") == 2 for a in t["ms_ip_address"])


def test_cdr_ids_collide_within_a_file_but_never_across_files():
    shape = gen.Shape(subscribers=500, ips=90, versions=3, events_per_file=3_000, dim_history_s=60, dim_future_s=5)
    ids = [gen.event_table(shape, 2, k).column("unique_cdr_id").to_numpy() for k in range(3)]
    assert any(len(np.unique(x)) < len(x) for x in ids)
    for i in range(3):
        for j in range(i + 1, 3):
            assert not set(ids[i]) & set(ids[j])


def test_due_times_are_evenly_spaced_inside_their_second():
    due = gen.event_table(SHAPE, 1, 4).column("start_time").cast("int64").to_numpy() - gen.BASE_US
    assert due[0] == 4 * gen.US and due[-1] < 5 * gen.US
    assert len(set(np.diff(due))) <= 2


def test_latency_is_commit_minus_due_minus_configured_delay():
    commits = {0: 100.0, 1: 101.5}
    lat = stats.attribute_latency(
        np.array([0, 1, 1]), np.array([99.0, 100.0, 98.0]), commits, np.array([0.0, 0.0, 3.0])
    )
    np.testing.assert_allclose(lat, [1.0, 1.5, 0.5])


def test_latency_of_a_batch_without_commit_time_is_an_error():
    with pytest.raises(KeyError):
        stats.attribute_latency(np.array([0, 2]), np.array([1.0, 1.0]), {0: 2.0})


def test_commit_time_is_trigger_start_plus_trigger_execution():
    p = {"timestamp": "2026-05-25T00:00:01.250Z", "durationMs": {"triggerExecution": 750}}
    assert stats.progress_commit_s(p) == pytest.approx(gen.BASE_US / gen.US + 2.0)


def test_units_beyond_a_percentile_count_distinct_batches():
    lat = np.array([1.0, 1.0, 2.0, 2.0, 3.0, 9.0, 9.5, 10.0])
    batch = np.array([0, 0, 1, 1, 2, 3, 3, 4])
    assert stats.units_beyond(lat, batch, 50) == 3  # values >= 2.5 sit in batches 2, 3, 4
    assert stats.units_beyond(lat, batch, 90) == 1
    assert stats.units_beyond(lat, batch, 0) == 5


def test_backlog_growth_is_detected_from_rising_latency():
    offset = np.arange(20, dtype=float)
    assert not stats.backlog_grew(offset, np.full(20, 2.0) + 0.1 * (offset % 3))
    assert stats.backlog_grew(offset, 2.0 + 0.2 * offset)


def test_counters_are_scoped_to_the_job_groups_asked_for():
    jobs = [
        {"job": 0, "group": "run-a", "stages": [0, 1]},
        {"job": 1, "group": "run-a", "stages": [1, 2]},  # stage 1 shared: counted once
        {"job": 2, "group": "other", "stages": [3]},
        {"job": 3, "group": None, "stages": [4]},
    ]

    def stage(i, **kw):
        base = {"stage": i, "tasks": 1, "run_ms": 1000, "cpu_ns": 5e8, "gc_ms": 10,
                "shuffle_read": 0, "shuffle_write": 0, "spill": 0}
        return base | kw

    stages = [stage(0), stage(1, shuffle_write=1024 * 1024), stage(2, shuffle_read=1024 * 1024),
              stage(2, tasks=2), stage(3, tasks=50), stage(4, tasks=70)]  # stage 2 retried
    c = scope_counters(jobs, stages, {"run-a"})
    assert c["jobs"] == 2 and c["stages"] == 3 and c["tasks"] == 5
    assert c["task_run_s"] == pytest.approx(4.0) and c["task_cpu_s"] == pytest.approx(2.0)
    assert c["shuffle_read_mb"] == 1.0 and c["shuffle_write_mb"] == 1.0
    assert scope_counters(jobs, stages, {"other"})["tasks"] == 50
    assert scope_counters(jobs, stages, set())["jobs"] == 0


def test_progress_phases_average_over_batches_that_read_input():
    def progress(rows, add, state=None):
        return {"numInputRows": rows, "durationMs": {"addBatch": add, "getBatch": 2, "triggerExecution": add + 100},
                "stateOperators": state or []}

    op = {"numRowsTotal": 40, "memoryUsedBytes": 2 * 1024 * 1024, "commitTimeMs": 30, "numRowsDroppedByWatermark": 1}
    c = progress_counters([progress(100, 1000, [op]), progress(300, 3000, [op | {"numRowsTotal": 10}]), progress(0, 50)])
    assert c["batches"] == 2 and c["rows_per_batch"] == 200
    assert c["add_batch_ms"] == 2000 and c["get_batch_ms"] == 2
    assert c["state_rows"] == 40 and c["state_mb"] == 2 and c["watermark_dropped"] == 2
    assert c["state_commit_pct"] == pytest.approx(100 * 60 / 4350)


def test_events_table_is_seeded_and_shaped_like_the_testdata(tmp_path):
    a = gen.write_events_table(1_000, 50, 4, str(tmp_path / "a"))
    b = gen.write_events_table(1_000, 50, 4, str(tmp_path / "b"))
    with open(a, "rb") as fa, open(b, "rb") as fb:
        assert fa.read() == fb.read()
    t = gen.events_table(1_000, 50, 4)
    assert t.schema == gen.EVENTS_SCHEMA and t.num_rows == 1_000
    assert t.column("event_id").to_pylist() == list(range(1_000))
    ts = t.column("ts").cast("int64").to_numpy()
    assert (np.diff(ts) >= 0).all()
    assert set(t.column("event_type").to_pylist()) == set(gen.EVENT_TYPES)
    assert gen.events_table(1_000, 50, 5) != t


def test_plan_check_counts_missing_and_extra_rows(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cdr import connect
    from registry_probe import mismatched

    out = tmp_path / "out"
    out.mkdir()
    pq.write_table(pa.table({"k": [1, 2, 2, 4], "v": ["a", "b", "b", "d"]}), out / "part-0.parquet")
    con = connect()
    assert mismatched(con, "SELECT * FROM (VALUES (2, 'b'), (1, 'a'), (4, 'd'), (2, 'b')) t(k, v)", str(out)) == (0, 0)
    # a duplicate too many on one side, a wrong value on the other
    assert mismatched(con, "SELECT * FROM (VALUES (1, 'a'), (2, 'b'), (3, 'c'), (4, 'x')) t(v, k)", str(out)) != (0, 0)
    assert mismatched(con, "SELECT * FROM (VALUES (1, 'a'), (2, 'b'), (4, 'd')) t(k, v)", str(out)) == (0, 1)


def test_sink_watcher_sees_only_committed_batches(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cdr import SinkWatcher

    for batch, rows, committed in ((0, 3, True), (1, 2, True), (2, 5, False)):
        d = tmp_path / f"_batch={batch}" / "probe=DE"
        d.mkdir(parents=True)
        pq.write_table(pa.table({"k": list(range(rows))}), d / "part-0.parquet")
        if committed:
            (tmp_path / f"_batch={batch}" / "_SUCCESS").touch()
    w = SinkWatcher(str(tmp_path))
    assert w.poll() == 5 and w.last_batch == 1
    (tmp_path / "_batch=2" / "_SUCCESS").touch()
    assert w.poll() == 10 and w.last_batch == 2 and len(w.files) == 3


def test_load_table_probe_times_calls_and_restores_the_loader():
    from flink_application_spark import catalog
    from registry_probe import LoadTableProbe

    orig = catalog.load_table
    with LoadTableProbe() as probe:
        assert catalog.load_table is not orig
        with pytest.raises(AttributeError):  # no session: fails, but is timed
            catalog.load_table(None, "sf", "events")
    assert catalog.load_table is orig and probe.seconds > 0.0
