"""TTL-refreshed dimension (S3 lookup-cache parity at batch granularity).

Scenario mirroring the reference's expire-after-write cache: the dim
changes between micro-batches; with an expired TTL the next batch sees
the new rows, with an unexpired TTL it keeps the cached Arrow
generation. Driven batch-by-batch through a foreachBatch-shaped
function directly (the streaming engine calls it exactly this way,
sequentially per batch).
"""

from __future__ import annotations

import pytest as _pytest_tier

# slow tier: e2e streaming / stateful-store / property tests (round-8
# verdict item 8). Default runs exclude these via pytest.ini addopts;
# run the full suite with:  python -m pytest tests/ -q -m ''
pytestmark = _pytest_tier.mark.slow

import pyarrow as pa

from flink_application_spark.streaming.dim_refresh import RefreshingDim


def _mk_dim_loader(spark, path):
    return lambda: spark.read.parquet(path)


def _left_join(batch, dim):
    out = batch.join(dim, "imsi", join_type="left outer")
    return sorted(zip(out["imsi"].to_pylist(), out["msisdn"].to_pylist()))


def _write_dim(spark, path, rows):
    spark.createDataFrame(rows, "imsi bigint, msisdn bigint").coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)


def test_ttl_zero_sees_dim_updates(spark, tmp_path):
    dim_path = str(tmp_path / "dim")
    _write_dim(spark, dim_path, [(1, 100), (2, 200)])

    clock = {"t": 0.0}
    dim = RefreshingDim(
        _mk_dim_loader(spark, dim_path), ttl_seconds=10.0, clock=lambda: clock["t"]
    )
    outputs: dict[int, list] = {}

    def process(batch, bid):
        outputs[bid] = _left_join(batch, dim.get())

    batch0 = pa.table({"imsi": pa.array([1, 3], pa.int64())})
    process(batch0, 0)
    assert outputs[0] == [(1, 100), (3, None)]
    assert dim.refresh_count == 1

    # dim mutates; TTL NOT expired → batch 1 still sees the snapshot
    _write_dim(spark, dim_path, [(1, 111), (3, 300)])
    clock["t"] = 5.0
    process(batch0, 1)
    assert outputs[1] == [(1, 100), (3, None)]
    assert dim.refresh_count == 1

    # TTL expired → batch 2 sees the new dim generation
    clock["t"] = 15.0
    process(batch0, 2)
    assert outputs[2] == [(1, 111), (3, 300)]
    assert dim.refresh_count == 2


def test_streaming_end_to_end_with_refreshing_dim(spark, tmp_path):
    """Wire the foreachBatch into a real streaming query (availableNow)
    and check the enrichment output lands."""
    src = str(tmp_path / "src")
    dim_path = str(tmp_path / "dim")
    spark.createDataFrame([(1,), (2,), (9,)], "imsi bigint").write.parquet(src)
    _write_dim(spark, dim_path, [(1, 100), (2, 200)])

    dim = RefreshingDim(_mk_dim_loader(spark, dim_path), ttl_seconds=3600.0)
    rows: list = []

    def process(batch_df, bid):
        rows.extend(_left_join(batch_df.toArrow(), dim.get()))

    q = (
        spark.readStream.schema("imsi bigint")
        .parquet(src)
        .writeStream.foreachBatch(process)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(300)
    assert sorted(rows) == [(1, 100), (2, 200), (9, None)]
    assert dim.refresh_count == 1
