"""TTL-refreshed dimension tables for stream enrichment (SURVEY §2.1 S3).

The reference's JDBC lookup source caches point lookups with a
row-level TTL (`lookup.partial-cache.expire-after-write = 60s`,
EnrichmentApp.java:246-248, flink.conf:37-38). Spark's stream-static
join executes the static side every micro-batch against the relation
built at query start: a JDBC dim is re-queried even when a cached copy
would do, and a parquet dim never sees a file added after its listing
was taken — there is no way to pin a freshness bound.

`RefreshingDim` closes that gap with the `foreachBatch` pattern: the
dim is loaded once, eagerly local-checkpointed (materialized to
executor-local blocks with lineage truncated), and reloaded only when
its wall-clock age exceeds `ttl_seconds` at a micro-batch boundary.
This is exactly the reference's expire-after-write cache, at batch
granularity — the only granularity at which Spark's execution model
can swap a join input.

Scale notes: for small dims Catalyst broadcasts the join anyway, so
refresh cost is one scan + one broadcast per TTL expiry rather than
per batch. Superseded generations are unreferenced after refresh and
reclaimed by the ContextCleaner, bounding storage at ~one generation.
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import DataFrame


class RefreshingDim:
    """Wall-clock-TTL cache around a dimension loader.

    `loader()` must return a fresh DataFrame reading the source (it is
    re-invoked on expiry; a closure over `spark.read...` is the normal
    shape). A monotonic clock is injectable for deterministic tests.
    """

    def __init__(
        self,
        loader: Callable[[], DataFrame],
        ttl_seconds: float,
        clock: Callable[[], float] = time.monotonic,
    ) -> None:
        self._loader = loader
        self._ttl = ttl_seconds
        self._clock = clock
        self._df: DataFrame | None = None
        self._loaded_at: float = float("-inf")
        self.refresh_count = 0

    def get(self) -> DataFrame:
        now = self._clock()
        if self._df is None or now - self._loaded_at > self._ttl:
            # localCheckpoint (eager), NOT persist: persist keeps the
            # scan in the plan and Spark's CacheManager *recaches by
            # path* when the source directory is overwritten — the
            # "cached" dim would silently follow source mutations.
            # Checkpointing truncates lineage to the materialized
            # blocks, pinning the generation until the next refresh.
            self._df = self._loader().localCheckpoint(eager=True)
            self._loaded_at = now
            self.refresh_count += 1
        return self._df

    def foreach_batch(
        self,
        join_fn: Callable[[DataFrame, DataFrame], DataFrame],
        write_fn: Callable[[DataFrame, int], None],
    ) -> Callable[[DataFrame, int], None]:
        """Build a `foreachBatch` function: each micro-batch is joined
        against the TTL-cached dim snapshot and handed to `write_fn`."""

        def _process(batch_df: DataFrame, batch_id: int) -> None:
            write_fn(join_fn(batch_df, self.get()), batch_id)

        return _process
