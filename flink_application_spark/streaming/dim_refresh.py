"""Dimension tables held on the driver for stream enrichment
(SURVEY §2.1 S3).

The reference's JDBC lookup source caches point lookups with a
row-level TTL (`lookup.partial-cache.expire-after-write = 60s`,
EnrichmentApp.java:246-248, flink.conf:37-38). Spark's stream-static
join executes the static side every micro-batch against the relation
built at query start: a JDBC dim is re-queried even when a cached copy
would do, and a parquet dim never sees a file added after its listing
was taken.

`RefreshingDim` holds one generation of a dim as an Arrow table on the
driver, collected with ``toArrow()``, and reloads it at a micro-batch
boundary once its wall-clock age reaches `ttl_seconds` — the
reference's expire-after-write cache, at batch granularity. The same
class carries the two reload rules of a stream-static join:
``ttl_seconds=math.inf`` loads once (a plain parquet dim: the files
listed at query start) and ``0`` reloads every batch (a JDBC dim
without a TTL is re-queried every batch).

`get()` is thread-safe: a load runs under the dim's lock. A caller
that arrives while a generation is loading (`app.run` starts the first
load on a background thread, and the first micro-batch may reach
`get()` before it ends) waits for that load, then applies the reload
rule to it: within its TTL it gets that generation instead of loading
a second one. One generation is loaded once.

Scale notes: a generation lives in driver memory, as a broadcast dim
already did, and a superseded one is freed when the next replaces it.
Load cost is one Spark job per load: once per query, once per TTL, or
once per batch by the rule above.
"""

from __future__ import annotations

import math
import threading
import time
from collections.abc import Callable

from pyspark.sql import DataFrame


class RefreshingDim:
    """Wall-clock-TTL cache of a dimension as an Arrow table.

    `loader()` must return a fresh DataFrame reading the source (it is
    re-invoked on expiry; a closure over `spark.read...` is the normal
    shape); `get()` collects it with ``toArrow()``, holding a lock while
    it does. A monotonic clock is injectable for deterministic tests.
    """

    def __init__(
        self,
        loader: Callable[[], DataFrame],
        ttl_seconds: float = math.inf,
        clock: Callable[[], float] = time.monotonic,
    ) -> None:
        self._loader = loader
        self._ttl = ttl_seconds
        self._clock = clock
        self._lock = threading.Lock()
        self._table = None
        self._loaded_at: float = float("-inf")
        self.refresh_count = 0

    def get(self):
        """The current generation (a ``pyarrow.Table``), reloaded first
        if it is at least `ttl_seconds` old. A caller that arrives
        during a load waits for it first."""
        with self._lock:
            now = self._clock()
            if self._table is None or now - self._loaded_at >= self._ttl:
                self._table = self._loader().toArrow()
                self._loaded_at = now
                self.refresh_count += 1
            return self._table
