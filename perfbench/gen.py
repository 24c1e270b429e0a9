"""Seeded CDR input generator: one process, one thread, numpy + pyarrow.

Distributions follow the reference generator (CsvData.java, flink.conf):
imsi present with p=0.5, msisdn with p=0.1, the 15 two-letter probe codes
with a ``"..."`` suffix, ``;ip;`` address lists, and ``unique_cdr_id`` =
second ++ rand(1e6), so ids collide inside one file (one second of events)
but never across files. Every random draw comes from a generator keyed by
``(seed, stream, index)``, so the same seed gives byte-identical parquet
files no matter in which order or how many of them are produced.

Event times are offsets from a fixed epoch (``BASE_US``), not wall clock:
the open loop maps offset ``d`` to the wall time ``t0 + d`` at which the
event is due, and the benchmark times each output row from that due time.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass
from functools import lru_cache

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

PROBES = ("DE", "cl", "ek", "ir", "kg", "kh", "mn", "nn", "ns", "rd", "sp", "sr", "st", "vr", "yd")
# 2026-05-25T00:00:00Z, the upper end of the reference's start-time range
BASE_US = 1_779_667_200_000_000
US = 1_000_000
_PROBE_ARRAY = pa.array(PROBES)
_PROBE_NAMES = pa.array([p + "..." for p in PROBES])

EVENT_SCHEMA = pa.schema(
    [
        ("start_time", pa.timestamp("us", tz="UTC")),
        ("measuring_probe_name", pa.string()),
        ("imsi", pa.int64()),
        ("msisdn", pa.int64()),
        ("ms_ip_address", pa.string()),
        ("unique_cdr_id", pa.int64()),
    ]
)
IMSI_MSISDN_SCHEMA = pa.schema([("imsi", pa.int64()), ("msisdn", pa.int64())])
MS_IP_SCHEMA = pa.schema(
    [
        ("start_time", pa.timestamp("us", tz="UTC")),
        ("imsi", pa.int64()),
        ("msisdn", pa.int64()),
        ("ms_ip_address", pa.string()),
        ("probe", pa.string()),
    ]
)

_DIMS, _EVENTS, _TABLE = 1, 2, 3


@dataclass(frozen=True)
class Shape:
    """Sizes of one workload's inputs."""

    subscribers: int
    ips: int  # each IP belongs to probe PROBES[ip % 15]
    versions: int  # ms_ip assignments per (probe, ip)
    events_per_file: int  # one file holds one second of events
    dim_history_s: int  # ms_ip versions start up to this long before BASE
    dim_future_s: int  # ... and up to this long after it


@lru_cache(maxsize=4)
def _ips(n: int) -> tuple[pa.Array, pa.Array]:
    """Dotted names of IPs ``0..n-1`` and their ``;ip;`` list form."""
    j = pa.array(np.arange(n, dtype=np.int64))
    octets = [pc.cast(pc.bit_wise_and(pc.shift_right(j, s), 255), pa.string()) for s in (16, 8, 0)]
    names = pc.binary_join_element_wise("10", *octets, ".")
    return names, pc.binary_join_element_wise("", names, "", ";")


def imsi_msisdn_table(shape: Shape) -> pa.Table:
    """Subscriber dimension: 4 of every 5 subscribers, so some Path-A
    events find no row and the inner lookup join drops them."""
    sub = np.arange(shape.subscribers, dtype=np.int64)
    sub = sub[sub % 5 != 3]
    return pa.table(
        {"imsi": 250_000_000_000 + sub, "msisdn": 79_001_000_000 + sub},
        schema=IMSI_MSISDN_SCHEMA,
    )


def ms_ip_table(shape: Shape, seed: int) -> pa.Table:
    """IP-assignment dimension: ``versions`` time-versioned rows per
    (probe, ip); three in ten rows list a second IP of the same probe."""
    rng = np.random.default_rng([seed, _DIMS])
    n = shape.ips * shape.versions
    ip = np.repeat(np.arange(shape.ips, dtype=np.int64), shape.versions)
    lo, hi = -shape.dim_history_s * US, shape.dim_future_s * US
    start = BASE_US + rng.integers(lo, hi, size=n)
    sub = rng.integers(0, shape.subscribers, size=n)
    second = (ip + 15 * rng.integers(1, max(2, shape.ips // 15), size=n)) % shape.ips
    two = rng.random(n) < 0.3
    names, lists = _ips(shape.ips)
    one = pc.take(lists, ip)
    addr = pc.if_else(two, pc.binary_join_element_wise(one, pc.take(names, second), ";", ""), one)
    return pa.table(
        {
            "start_time": pa.array(start, pa.timestamp("us", tz="UTC")),
            "imsi": 250_000_000_000 + sub,
            "msisdn": 79_002_000_000 + sub * 1000 + np.arange(n) % 997,
            "ms_ip_address": addr,
            "probe": pc.take(_PROBE_ARRAY, ip % 15),
        },
        schema=MS_IP_SCHEMA,
    )


def event_table(shape: Shape, seed: int, k: int) -> pa.Table:
    """Events of second ``k``: evenly spaced due offsets in [k, k+1) s."""
    rng = np.random.default_rng([seed, _EVENTS, k])
    m = shape.events_per_file
    due = BASE_US + k * US + (np.arange(m, dtype=np.int64) * US) // m
    ip = rng.integers(0, shape.ips, size=m)
    probe = ip % 15
    # 2 in 100 events name a probe their IP is not assigned on: no
    # as-of candidate, so the inner as-of join drops them
    stray = rng.random(m) < 0.02
    probe = np.where(stray, (probe + 1 + rng.integers(0, 14, size=m)) % 15, probe)
    imsi = pa.array(
        250_000_000_000 + rng.integers(0, shape.subscribers, size=m),
        mask=rng.random(m) >= 0.5,
    )
    msisdn = pa.array(
        79_000_000_000 + rng.integers(0, shape.subscribers, size=m),
        mask=rng.random(m) >= 0.1,
    )
    cdr_id = (BASE_US // US + k) * 1_000_000 + rng.integers(0, 1_000_000, size=m)
    return pa.table(
        {
            "start_time": pa.array(due, pa.timestamp("us", tz="UTC")),
            "measuring_probe_name": pc.take(_PROBE_NAMES, probe),
            "imsi": imsi,
            "msisdn": msisdn,
            "ms_ip_address": pc.take(_ips(shape.ips)[1], ip),
            "unique_cdr_id": cdr_id,
        },
        schema=EVENT_SCHEMA,
    )


def flush_table(shape: Shape, k: int, cdr_id: int) -> pa.Table:
    """One as-of event at second ``k`` on IP 0 (which has ms_ip versions
    on its probe): its event time advances the watermark past every
    earlier session, so all of them close and reach the sink."""
    return pa.table(
        {
            "start_time": pa.array([BASE_US + k * US], pa.timestamp("us", tz="UTC")),
            "measuring_probe_name": pc.take(_PROBE_NAMES, [0]),
            "imsi": pa.nulls(1, pa.int64()),
            "msisdn": pa.nulls(1, pa.int64()),
            "ms_ip_address": pc.take(_ips(shape.ips)[1], [0]),
            "unique_cdr_id": [cdr_id],
        },
        schema=EVENT_SCHEMA,
    )


EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)
EVENT_TYPES = ("error", "view", "signup", "purchase", "click")
# 2024-01-01T00:00:00, the start of the sf0.1 testdata's 30-day range
EVENTS_BASE_US = 1_704_067_200_000_000


def events_table(n: int, users: int, seed: int) -> pa.Table:
    """The catalog's ``events`` table in the sf0.1 testdata's shape
    (sf0.1: 100k rows, 1.5k users, 30 days, five equally likely types).
    The registered CDR plans derive their CDR source and both dims from
    it: ``event_id`` sets imsi/msisdn presence and cdr-id collisions,
    ``user_id`` the probe and IPs, and signups become ms_ip versions."""
    rng = np.random.default_rng([seed, _TABLE])
    ts = EVENTS_BASE_US + np.sort(rng.integers(0, 30 * 86_400 * US, size=n))
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, users, size=n),
            "event_type": pc.take(pa.array(EVENT_TYPES), rng.integers(0, len(EVENT_TYPES), size=n)),
            "value": np.round(rng.exponential(50.0, size=n), 2),
            "props": pc.binary_join_element_wise('{"k": ', pc.cast(pa.array(rng.integers(0, 100, size=n)), pa.string()), "}", ""),
        },
        schema=EVENTS_SCHEMA,
    )


def write_events_table(n: int, users: int, seed: int, sf_dir: str) -> str:
    """Write ``events.parquet`` where ``catalog.load_table`` looks for it."""
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "events.parquet")
    with open(path, "wb") as f:
        f.write(parquet_bytes(events_table(n, users, seed)))
    return path


def parquet_bytes(table: pa.Table) -> bytes:
    sink = pa.BufferOutputStream()
    pq.write_table(table, sink, compression="snappy")
    return sink.getvalue().to_pybytes()


def write_dims(shape: Shape, seed: int, root: str) -> dict[str, str]:
    """Write both dimensions as parquet directories under ``root``."""
    out = {}
    for name, table in (
        ("imsi_msisdn", imsi_msisdn_table(shape)),
        ("ms_ip", ms_ip_table(shape, seed)),
    ):
        d = os.path.join(root, name)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "part-0.parquet"), "wb") as f:
            f.write(parquet_bytes(table))
        out[name] = d
    return out


def write_events(shape: Shape, seed: int, ks: range, directory: str) -> int:
    """Write the event files of seconds ``ks`` (a closed backlog);
    returns the number of events."""
    os.makedirs(directory, exist_ok=True)
    for k in ks:
        with open(os.path.join(directory, f"cdr-{k:06d}.parquet"), "wb") as f:
            f.write(parquet_bytes(event_table(shape, seed, k)))
    return len(ks) * shape.events_per_file


class OpenLoop:
    """Releases one pre-serialized event file per second on a fixed
    schedule that does not wait for the system under test: file ``k``
    holds the events due in [t0+k, t0+k+1) and is released at t0+k+1,
    when its last event is due. Each file is written to a staging path
    and renamed into the watched directory, so the file source never
    sees a partial file. ``lateness_s`` records, per file, how long
    after its release time the rename completed."""

    def __init__(self, files: list[bytes], staging: str, watched: str, t0: float) -> None:
        self.files = files
        self.staging = staging
        self.watched = watched
        self.t0 = t0
        self.lateness_s: list[float] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="open-loop", daemon=True)

    def start(self) -> None:
        os.makedirs(self.staging, exist_ok=True)
        os.makedirs(self.watched, exist_ok=True)
        self._thread.start()

    def _run(self) -> None:
        for k, data in enumerate(self.files):
            due = self.t0 + k + 1
            if self._stop.wait(max(0.0, due - time.time())):
                return
            name = f"cdr-{k:06d}.parquet"
            tmp = os.path.join(self.staging, name)
            with open(tmp, "wb") as f:
                f.write(data)
            os.rename(tmp, os.path.join(self.watched, name))
            self.lateness_s.append(time.time() - due)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(5)
