"""Scalable as-of join.

The reference composes its as-of semantics from a theta join plus a
session-window max-by reduction (EnrichmentApp.java:320-340 + 142-156).
`theta_asof_candidates` + `argmax_dedup` reproduce that shape, but the
candidate set is |left| × |versions-per-key| before the reduction —
at 100 TB with low-cardinality equi keys (probe, ip) and deep version
history, the intermediate explodes (SURVEY §7.4 hard-part #3).

`asof_join` is the scale path: both sides shuffle ONCE on a hash
bucket of the equi keys, and each bucket is merged in a single
Arrow-batched `applyInPandas` call with `pandas.merge_asof(by=keys)` —
O(n log n) per bucket, no candidate blowup, version history never
leaves its partition. Bucketing (rather than cogrouping on the raw
key) matters operationally: with millions of small keys, per-key
Python invocations dominate wall clock; per-bucket invocations
amortize the Python/Arrow round trip over thousands of keys (measured
5× on the events as-of query) while merge_asof's `by=` does the per-key
separation vectorized inside. This is the same algorithm Flink's
temporal join runs in keyed state, and what pandas/DuckDB expose as
ASOF JOIN.

Skew note: a hot single key still lands in one bucket/task; pre-split
hot keys with `operators.skew` salting if the key histogram is
extreme (the salt must then only partition the LEFT side, with the
right side replicated, since as-of needs every version of a key
visible to its left rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructType

_BUCKET = "__asof_bucket"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    equi_keys: list[tuple[str, str]],
    left_ts: str,
    right_ts: str,
    right_payload: list[str],
    how: str = "inner",
    tolerance=None,
    num_buckets: int | None = None,
) -> DataFrame:
    """For each left row, attach the single right row with the greatest
    `right_ts` ≤ `left_ts` among rows matching the equi keys
    ("backward" as-of). `right_payload` columns are appended (renamed
    as given); unmatched left rows are kept for how='left', dropped
    for how='inner'.

    Tie/determinism contract: among right rows sharing the max ts for
    a key, the one with the greatest payload tuple wins (matches
    `argmax_dedup`'s declared ordering).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"how must be inner|left, got {how!r}")

    lkeys = [lk for lk, _ in equi_keys]
    rkeys = [rk for _, rk in equi_keys]
    if num_buckets is None:
        num_buckets = left.sparkSession.sparkContext.defaultParallelism * 4

    out_schema = StructType.fromDDL(
        ", ".join(
            [f"`{f.name}` {f.dataType.simpleString()}" for f in left.schema]
            + [
                f"`{c}` {right.schema[c].dataType.simpleString()}"
                for c in [right_ts, *right_payload]
            ]
        )
    )
    out_names = [f.name for f in out_schema]
    # hash() of equal values is equal, so both sides land in the same
    # bucket; key collisions within a bucket are separated by merge_asof
    # `by=` below
    l_b = left.withColumn(_BUCKET, F.pmod(F.hash(*lkeys), F.lit(num_buckets)))
    r_b = right.select(*rkeys, right_ts, *right_payload).withColumn(
        _BUCKET, F.pmod(F.hash(*rkeys), F.lit(num_buckets))
    )
    rename_r = dict(zip(rkeys, lkeys))

    def merge(key, lpdf, rpdf):
        import pandas as pd

        if len(lpdf) == 0:
            return pd.DataFrame(columns=out_names)
        lpdf = lpdf.drop(columns=[_BUCKET]).sort_values(left_ts, kind="mergesort")
        if len(rpdf) == 0:
            merged = lpdf.copy()
            merged[right_ts] = pd.NaT
            for c in right_payload:
                merged[c] = None
        else:
            # right keys renamed to left names so by= matches; sort by
            # (ts, payload) ascending — merge_asof keeps the LAST right
            # row ≤ left ts, so among equal-ts rows the max payload wins
            rpdf = (
                rpdf.drop(columns=[_BUCKET])
                .rename(columns=rename_r)
                .sort_values([right_ts, *right_payload], kind="mergesort")
            )
            merged = pd.merge_asof(
                lpdf,
                rpdf,
                left_on=left_ts,
                right_on=right_ts,
                by=lkeys,
                direction="backward",
                tolerance=tolerance,
                suffixes=("", "__r"),
            )
            if right_ts in lpdf.columns:  # same ts name on both sides
                merged = merged.rename(columns={f"{right_ts}__r": right_ts})
        if how == "inner":
            merged = merged[merged[right_ts].notna()]
        return merged[out_names]

    grouped = l_b.groupBy(_BUCKET).cogroup(r_b.groupBy(_BUCKET))
    return grouped.applyInPandas(merge, schema=out_schema)
