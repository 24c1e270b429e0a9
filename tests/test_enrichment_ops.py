"""Unit tests for the enrichment operator library (SURVEY §5 edge cases:
';ip;' wrapping, empty tokens, coalesce precedence, as-of tie-breaks,
null path routing)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row, functions as F

from flink_application_spark.operators.dedup import argmax_dedup
from flink_application_spark.operators.enrichment import (
    coalesce_enrich,
    explode_delimited,
    extend_with_partition_cols,
    lookup_join,
    theta_asof_candidates,
)


def test_explode_edge_tokens(spark):
    df = spark.createDataFrame(
        [(1, ";10.0.0.1;"), (2, ";a; b ;;c;"), (3, ";;"), (4, "x")],
        ["id", "ips"],
    )
    out = explode_delimited(df, "ips", out_col="ip")
    got = {(r.id, r.ip) for r in out.collect()}
    assert got == {(1, "10.0.0.1"), (2, "a"), (2, "b"), (2, "c"), (4, "x")}


def test_coalesce_enrich_precedence(spark):
    df = spark.createDataFrame(
        [(None, 10), (5, 20), (None, None)], ["imsi", "_imsi"]
    )
    out = coalesce_enrich(df, {"imsi": "_imsi"})
    assert out.columns == ["imsi"]
    # joined (_imsi) value wins when present (EnrichmentApp.java:128-132)
    assert [r.imsi for r in out.collect()] == [10, 20, None]


def test_extend_partition_cols(spark):
    df = spark.createDataFrame(
        [(dt.datetime(2024, 3, 5, 12, 0), "DE-probe-1")],
        ["start_time", "measuring_probe_name"],
    )
    row = extend_with_partition_cols(df).collect()[0]
    assert row.event_date == dt.date(2024, 3, 5)
    assert row.probe == "DE"
    row_s = extend_with_partition_cols(df, date_as_string=True).collect()[0]
    assert row_s.event_date == "2024-03-05"


def test_lookup_join_left_null_passthrough(spark):
    src = spark.createDataFrame([(1, None), (2, None), (99, 7)], ["imsi", "msisdn"])
    dim = spark.createDataFrame([(1, 100), (2, 200)], ["imsi", "msisdn"])
    out = coalesce_enrich(
        lookup_join(
            src,
            dim,
            on=F.col("imsi") == F.col("_imsi"),
            project={"_imsi": "imsi", "_msisdn": "msisdn"},
            how="left",
        ),
        {"imsi": "_imsi", "msisdn": "_msisdn"},
    )
    got = {(r.imsi, r.msisdn) for r in out.collect()}
    assert got == {(1, 100), (2, 200), (99, 7)}


def test_asof_join_picks_latest_active(spark):
    t = dt.datetime
    left = spark.createDataFrame(
        [(1, "p", "ip1", t(2024, 1, 10))],
        ["unique_cdr_id", "probe", "ip", "start_time"],
    )
    right = spark.createDataFrame(
        [
            ("p", "ip1", t(2024, 1, 1), 100),   # active, older
            ("p", "ip1", t(2024, 1, 9), 200),   # active, latest → winner
            ("p", "ip1", t(2024, 1, 11), 300),  # not yet active
            ("q", "ip1", t(2024, 1, 9), 400),   # wrong probe
        ],
        ["_probe", "_ip", "_start_time", "_msisdn"],
    )
    cand = theta_asof_candidates(
        left, right, [("probe", "_probe"), ("ip", "_ip")], "start_time", "_start_time"
    )
    best = argmax_dedup(cand, ["unique_cdr_id"], ["_start_time", "_msisdn"])
    rows = best.collect()
    assert len(rows) == 1 and rows[0]._msisdn == 200


def test_argmax_dedup_tiebreak(spark):
    df = spark.createDataFrame(
        [(1, 5, "a"), (1, 5, "b"), (1, 3, "z")], ["k", "v", "t"]
    )
    out = argmax_dedup(df, ["k"], ["v", "t"]).collect()
    assert len(out) == 1 and out[0].t == "b"
