"""Partial lookup cache (Flink `lookup.cache=PARTIAL` parity,
EnrichmentApp.java:246-248): result-identical to the full join, LRU
max-rows bound enforced, expire-after-write refresh observable, flood
batches fall back to the stream-static plan."""

from __future__ import annotations

import pytest as _pytest_tier

# slow tier: e2e streaming / stateful-store / property tests (round-8
# verdict item 8). Default runs exclude these via pytest.ini addopts;
# run the full suite with:  python -m pytest tests/ -q -m ''
pytestmark = _pytest_tier.mark.slow

from pyspark.sql import functions as F

from flink_application_spark.streaming.lookup_cache import PartialLookupCache


def _dim(spark, rows=None):
    rows = rows if rows is not None else [(k, f"v{k}") for k in range(50)]
    return spark.createDataFrame(rows, "imsi bigint, val string")


def test_results_identical_to_full_join(spark):
    dim = _dim(spark)
    cache = PartialLookupCache(lambda: dim, "imsi", max_rows=10, ttl_seconds=60)
    batch = spark.createDataFrame(
        [(i, i % 7) for i in range(40)], "row_id bigint, imsi bigint"
    )
    via_cache = cache.join_batch(batch, "inner")
    full = batch.join(dim, "imsi", "inner")
    assert sorted(map(tuple, via_cache.collect())) == sorted(
        map(tuple, full.collect())
    )
    # left join keeps unmatched and NULL-key rows too
    batch2 = spark.createDataFrame(
        [(100, 999), (101, None), (102, 3)], "row_id bigint, imsi bigint"
    )
    via_cache2 = cache.join_batch(batch2, "left")
    full2 = batch2.join(dim, "imsi", "left")
    # None cells (unmatched left rows) break tuple '<' — compare as
    # multisets instead
    from collections import Counter

    assert Counter(map(tuple, via_cache2.collect())) == Counter(
        map(tuple, full2.collect())
    )


def test_lru_max_rows_bound_and_eviction_order(spark):
    dim = _dim(spark)
    cache = PartialLookupCache(lambda: dim, "imsi", max_rows=3, ttl_seconds=60)
    b = lambda keys: spark.createDataFrame(  # noqa: E731
        [(k,) for k in keys], "imsi bigint"
    )
    cache.join_batch(b([1, 2, 3]))
    assert cache.cached_row_count() <= 3
    # touch 1 (→ MRU), then insert 4: LRU victim must be 2, not 1
    cache.join_batch(b([1]))
    cache.join_batch(b([4]))
    keys = set(cache.cached_keys())
    assert 1 in keys and 4 in keys and 2 not in keys
    assert cache.cached_row_count() <= 3
    assert cache.metrics.evictions_size >= 1


def test_expire_after_write_reloads_changed_dim(spark):
    now = [0.0]
    state = {"rows": [(1, "old")]}
    cache = PartialLookupCache(
        lambda: _dim(spark, state["rows"]),
        "imsi",
        max_rows=10,
        ttl_seconds=60,
        clock=lambda: now[0],
    )
    b = spark.createDataFrame([(1,)], "imsi bigint")
    r1 = cache.join_batch(b).collect()
    assert r1[0]["val"] == "old"
    state["rows"] = [(1, "new")]
    now[0] = 30.0  # inside TTL: cached value served, no reload
    assert cache.join_batch(b).collect()[0]["val"] == "old"
    now[0] = 61.0  # expire-after-WRITE (written at t=0)
    assert cache.join_batch(b).collect()[0]["val"] == "new"
    assert cache.metrics.evictions_ttl == 1


def test_negative_lookup_cached(spark):
    """A key absent from the dim is cached as a miss — the second probe
    must NOT re-query the source (Flink caches empty lookups too)."""
    dim = _dim(spark)
    cache = PartialLookupCache(lambda: dim, "imsi", max_rows=10, ttl_seconds=60)
    b = spark.createDataFrame([(999,)], "imsi bigint")
    assert cache.join_batch(b, "inner").count() == 0
    loads_after_first = cache.metrics.loads
    assert cache.join_batch(b, "inner").count() == 0
    assert cache.metrics.loads == loads_after_first
    assert cache.metrics.hits >= 1


def test_flood_batch_falls_back_to_full_join(spark):
    dim = _dim(spark)
    cache = PartialLookupCache(
        lambda: dim, "imsi", max_rows=5, ttl_seconds=60, max_probe_keys=10
    )
    flood = spark.createDataFrame([(k % 50,) for k in range(200)], "imsi bigint")
    out = cache.join_batch(flood, "inner")
    full = flood.join(dim, "imsi", "inner")
    assert out.count() == full.count()
    assert cache.metrics.fallbacks == 1
    # the flood must not have blown the cache bound
    assert cache.cached_row_count() <= 5


def test_cdr_enrichment_through_partial_cache(spark, sf_dir):
    """Path-A enrichment joined through the bounded cache equals the
    registered full-join result on the real CDR fixture — the §2 S3
    surface with the reference's actual cache limits (max-rows=100)."""
    from flink_application_spark.plans.cdr import cdr_views

    v = cdr_views(spark, sf_dir)
    src = v["cdr_src"].filter(F.col("imsi").isNotNull()).select("imsi", "unique_cdr_id")
    dim = v["imsi_msisdn"].withColumnRenamed("msisdn", "dim_msisdn")
    cache = PartialLookupCache(lambda: dim, "imsi", max_rows=100, ttl_seconds=60)
    got = cache.join_batch(src, "inner")
    want = src.join(dim, "imsi", "inner")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert cache.cached_row_count() <= 100


def test_streaming_foreachbatch_enrichment_with_cache(spark, tmp_path):
    """End-to-end: a file stream enriched through the bounded cache in
    foreachBatch — output equals the full-join batch result, cache
    stays bounded, and the second wave's repeated keys HIT."""
    import time as _time

    from flink_application_spark.sources.streams import file_stream
    from flink_application_spark.streaming.sinks import idempotent_batch_write

    dim = _dim(spark)
    cache = PartialLookupCache(lambda: dim, "imsi", max_rows=20, ttl_seconds=600)
    src = tmp_path / "in"
    waves = [
        [(i, i % 5) for i in range(20)],       # keys 0-4
        [(100 + i, i % 5) for i in range(20)],  # SAME keys → all hits
    ]
    out = str(tmp_path / "out")

    def process(batch_df, batch_id):
        idempotent_batch_write(cache.join_batch(batch_df, "inner"), out, batch_id)

    for wave in waves:
        spark.createDataFrame(wave, "row_id bigint, imsi bigint").coalesce(
            1
        ).write.mode("append").parquet(str(src))
        _time.sleep(1.2)
    # both waves are on disk: availableNow drains them (one file per
    # batch) and ends the query
    q = (
        file_stream(spark, str(src), max_files_per_trigger=1)
        .writeStream.foreachBatch(process)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        q.stop()
    got = spark.read.parquet(out)
    full = spark.createDataFrame(
        [r for w in waves for r in w], "row_id bigint, imsi bigint"
    ).join(dim, "imsi", "inner")
    assert got.count() == full.count()
    assert cache.cached_row_count() <= 20
    assert cache.metrics.hits >= 5  # wave 2 re-probed cached keys


def test_negative_entry_flood_bounded(spark):
    """A flood of ABSENT keys (each cached as an empty entry with zero
    rows) must not grow the key table past max_rows."""
    dim = _dim(spark)
    cache = PartialLookupCache(lambda: dim, "imsi", max_rows=5, ttl_seconds=60)
    probe = spark.createDataFrame(
        [(1000 + k,) for k in range(40)], "imsi bigint"
    )
    assert cache.join_batch(probe, "inner").count() == 0
    assert len(cache.cached_keys()) <= 5
