"""`RefreshingDim.get()` from several threads: `app.run` starts a dim's
first load on a background thread, and the first micro-batch may call
`get()` while that load is still in flight. The caller waits for the
load instead of running a second one; TTL reloads keep their rule.
No Spark session: the loader returns a stand-in with ``toArrow()``."""

from __future__ import annotations

import threading

import pyarrow as pa

from flink_application_spark.streaming.dim_refresh import RefreshingDim


class _GatedLoader:
    """Counts its calls; each call blocks until ``gate`` is set and
    returns a frame whose ``toArrow()`` is a new table."""

    def __init__(self) -> None:
        self.calls = 0
        self.started = threading.Event()
        self.gate = threading.Event()

    def __call__(self):
        self.calls += 1
        self.started.set()
        assert self.gate.wait(30)
        table = pa.table({"imsi": [self.calls]})
        return type("Frame", (), {"toArrow": lambda _self: table})()


def _get_from_two_threads(dim: RefreshingDim, loader: _GatedLoader) -> list:
    got: list = [None, None]

    def call(i: int) -> None:
        got[i] = dim.get()

    threads = [threading.Thread(target=call, args=(i,)) for i in range(2)]
    threads[0].start()
    assert loader.started.wait(30)  # the first caller's load is in flight
    threads[1].start()
    threads[1].join(0.2)
    assert threads[1].is_alive()  # the second caller waits on the load
    loader.gate.set()
    for t in threads:
        t.join(30)
        assert not t.is_alive()
    return got


def test_concurrent_get_loads_one_generation_once():
    clock = {"t": 0.0}
    loader = _GatedLoader()
    dim = RefreshingDim(loader, ttl_seconds=10.0, clock=lambda: clock["t"])

    first, second = _get_from_two_threads(dim, loader)
    assert loader.calls == 1 and dim.refresh_count == 1
    assert first is second and first.column("imsi").to_pylist() == [1]

    # within the TTL: the same generation, no load
    clock["t"] = 5.0
    assert dim.get() is first and loader.calls == 1

    # past the TTL: two concurrent callers still reload exactly once
    clock["t"] = 15.0
    loader.started.clear()
    loader.gate.clear()
    third, fourth = _get_from_two_threads(dim, loader)
    assert loader.calls == 2 and dim.refresh_count == 2
    assert third is fourth and third.column("imsi").to_pylist() == [2]
