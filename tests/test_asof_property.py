"""Property-based check of the cogrouped as-of join.

`tests/test_asof.py` pins fixed fixtures and oracle parity;
this test drives `asof_join` with hypothesis-generated inputs —
duplicate timestamps, keys present on only one side, empty sides,
ties needing the payload tie-break — against a brute-force Python
reference of the declared contract (greatest right_ts ≤ left_ts per
key; ties → greatest payload tuple).
"""

from __future__ import annotations

import pytest as _pytest_tier

# slow tier: e2e streaming / stateful-store / property tests (round-8
# verdict item 8). Default runs exclude these via pytest.ini addopts;
# run the full suite with:  python -m pytest tests/ -q -m ''
pytestmark = _pytest_tier.mark.slow

import datetime as dt

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from flink_application_spark.operators.asof import asof_join

BASE = dt.datetime(2024, 1, 1)

_key = st.sampled_from(["k1", "k2", "k3"])
_ts = st.integers(min_value=0, max_value=20).map(
    lambda s: BASE + dt.timedelta(seconds=s)
)
_payload = st.sampled_from(["a", "b", "c"])

_left_rows = st.lists(st.tuples(_key, _ts), min_size=0, max_size=12)
_right_rows = st.lists(st.tuples(_key, _ts, _payload), min_size=0, max_size=12)


def _brute_force(left_rows, right_rows, how):
    out = []
    for lk, lt in left_rows:
        cands = [(rt, pay) for rk, rt, pay in right_rows if rk == lk and rt <= lt]
        if cands:
            rt, pay = max(cands)  # max ts, ties → max payload
            out.append((lk, lt, rt, pay))
        elif how == "left":
            out.append((lk, lt, None, None))
    return sorted(out, key=lambda r: tuple(str(x) for x in r))


@pytest.mark.parametrize("how", ["inner", "left"])
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(left_rows=_left_rows, right_rows=_right_rows)
def test_asof_join_matches_brute_force(spark, how, left_rows, right_rows):
    left = spark.createDataFrame(
        left_rows or [("_x", BASE)], "k string, lt timestamp"
    )
    if not left_rows:
        left = left.filter("k <> '_x'")
    right = spark.createDataFrame(
        right_rows or [("_x", BASE, "a")], "k string, rt timestamp, pay string"
    )
    if not right_rows:
        right = right.filter("k <> '_x'")

    got = asof_join(
        left,
        right,
        equi_keys=[("k", "k")],
        left_ts="lt",
        right_ts="rt",
        right_payload=["pay"],
        how=how,
        num_buckets=4,
    ).collect()
    got_rows = sorted(
        [(r.k, r.lt, r.rt, r.pay) for r in got],
        key=lambda r: tuple(str(x) for x in r),
    )
    assert got_rows == _brute_force(left_rows, right_rows, how)
