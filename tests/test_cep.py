"""CEP automaton semantics vs a pure-Python reference, plus edge
patterns the corpus can't guarantee to contain."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from flink_application_spark.catalog import table
from flink_application_spark.operators.cep import match_pattern

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _ev(spark, rows):
    return spark.createDataFrame(
        [(i, k, T0 + dt.timedelta(seconds=s), t) for i, (k, s, t) in enumerate(rows)],
        "event_id: long, user_id: long, ts: timestamp_ntz, event_type: string",
    )


def _steps(*types):
    return [F.col("event_type") == t for t in types]


def _matches(df):
    k = sum(1 for c in df.columns if c.endswith("_ts"))
    key = "key" if "key" in df.columns else "user_id"
    return sorted(
        tuple([r[key]] + [r[f"step_{i + 1}_id"] for i in range(k)])
        for r in df.collect()
    )


def _py_reference(rows, steps, within=None):
    """Earliest non-overlapping matcher over (key, sec, type) rows."""
    out = []
    by_key: dict = {}
    for i, (k, s, t) in enumerate(rows):
        by_key.setdefault(k, []).append((s, i, t))
    for k, evs in by_key.items():
        evs.sort()
        bound = []
        i = 0
        while i < len(evs):
            s, eid, t = evs[i]
            step = len(bound)
            if t == steps[step]:
                if within is not None and bound and s - evs[bound[0]][0] > within:
                    i = bound[0] + 1
                    bound = []
                    continue
                bound.append(i)
                if len(bound) == len(steps):
                    out.append(tuple([k] + [evs[j][1] for j in bound]))
                    bound = []
            i += 1
    return sorted(out)


def test_basic_sequence_with_noise(spark):
    rows = [
        (1, 0, "signup"), (1, 5, "view"), (1, 10, "click"), (1, 20, "purchase"),
        (2, 0, "click"), (2, 5, "purchase"),           # no signup → no match
        (3, 0, "signup"), (3, 1, "purchase"),          # missing click → no match
    ]
    got = _matches(match_pattern(_ev(spark, rows), "user_id", "ts",
                                 _steps("signup", "click", "purchase"), id_col="event_id"))
    assert got == _py_reference(rows, ["signup", "click", "purchase"])
    assert got == [(1, 0, 2, 3)]


def test_non_overlapping_skip_past_last_row(spark):
    rows = [
        (1, 0, "signup"), (1, 1, "click"), (1, 2, "purchase"),
        (1, 3, "signup"), (1, 4, "click"), (1, 5, "purchase"),
        (1, 6, "signup"),  # dangling partial
    ]
    got = _matches(match_pattern(_ev(spark, rows), "user_id", "ts",
                                 _steps("signup", "click", "purchase"), id_col="event_id"))
    assert got == [(1, 0, 1, 2), (1, 3, 4, 5)]


def test_within_expires_head_and_rebinds(spark):
    # A@0 too old for B@12 under within=10; A@5 works
    rows = [(1, 0, "a"), (1, 5, "a"), (1, 12, "b")]
    got = _matches(match_pattern(_ev(spark, rows), "user_id", "ts",
                                 _steps("a", "b"), within_seconds=10, id_col="event_id"))
    assert got == _py_reference(rows, ["a", "b"], within=10) == [(1, 1, 2)]


def test_single_step_pattern(spark):
    rows = [(1, 0, "x"), (1, 1, "y"), (1, 2, "x")]
    got = _matches(match_pattern(_ev(spark, rows), "user_id", "ts",
                                 _steps("x"), id_col="event_id"))
    assert got == [(1, 0), (1, 2)]


@pytest.mark.parametrize("within", [None, 3600])
def test_corpus_agrees_with_reference(spark, sf_dir, within):
    ev = table(spark, sf_dir, "events")
    rows = [
        (r["user_id"], (r["ts"] - T0.replace(year=2024)).total_seconds(), r["event_type"])
        for r in ev.select("user_id", "ts", "event_type", "event_id")
        .orderBy("event_id")
        .collect()
    ]
    got = match_pattern(
        ev, "user_id", "ts", _steps("signup", "click", "purchase"),
        within_seconds=within, id_col="event_id",
    )
    want = _py_reference(rows, ["signup", "click", "purchase"], within=within)
    # ids differ (reference uses positional ids) — compare match COUNTS
    # per key, which pins the automaton against reorderings
    got_counts: dict = {}
    for r in got.collect():
        got_counts[r["key"]] = got_counts.get(r["key"], 0) + 1
    want_counts: dict = {}
    for m in want:
        want_counts[m[0]] = want_counts.get(m[0], 0) + 1
    assert got_counts == want_counts


def test_key_spanning_many_arrow_batches(spark):
    """One hot key across many tiny Arrow batches drives the
    chunked-carry path (cont.all() accumulation + final flush)."""
    import datetime as dt

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        rows = []
        # 40 (signup, click, purchase) triples + noise for ONE key
        for i in range(40):
            rows += [(1, 10 * i, "signup"), (1, 10 * i + 1, "view"),
                     (1, 10 * i + 2, "click"), (1, 10 * i + 3, "purchase")]
        got = _matches(match_pattern(_ev(spark, rows), "user_id", "ts",
                                     _steps("signup", "click", "purchase"),
                                     id_col="event_id"))
        assert len(got) == 40
        ref = _py_reference(
            [(k, s, t) for (k, s, t) in rows], ["signup", "click", "purchase"]
        )
        assert len(ref) == 40
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
