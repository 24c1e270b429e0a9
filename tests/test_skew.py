"""Salting operators: equivalence with unsalted formulations."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_application_spark.catalog import table
from flink_application_spark.operators.skew import (
    replicate_small_side,
    salted_aggregate,
    salted_join,
    with_salt,
)


def test_salt_range_and_determinism(spark):
    df = spark.range(1000)
    s1 = with_salt(df, 8, from_cols=["id"])
    assert s1.filter((F.col("_salt") < 0) | (F.col("_salt") >= 8)).count() == 0
    s2 = with_salt(spark.range(1000), 8, from_cols=["id"])
    assert s1.exceptAll(s2).count() == 0  # deterministic across runs


def test_replicate_small_side(spark):
    dim = spark.range(10)
    rep = replicate_small_side(dim, 4)
    assert rep.count() == 40
    assert rep.select("_salt").distinct().count() == 4


def test_salted_join_equals_plain_join(spark, sf_dir):
    orders, cust = (table(spark, sf_dir, t) for t in ("orders", "customer"))
    plain = orders.join(
        cust.select(F.col("c_custkey").alias("ck"), "c_name"),
        F.col("o_custkey") == F.col("ck"),
    ).select("o_orderkey", "c_name")
    salted = salted_join(
        orders,
        cust.select(F.col("c_custkey").alias("ck"), "c_name"),
        on=[("o_custkey", "ck")],
        n_salts=8,
    ).select("o_orderkey", "c_name")
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_salted_left_join_keeps_unmatched(spark):
    big = spark.createDataFrame([(1, "a"), (2, "b"), (99, "c")], "k int, v string")
    small = spark.createDataFrame([(1, "x"), (2, "y")], "sk int, w string")
    out = salted_join(big, small, on=[("k", "sk")], n_salts=4, how="left")
    # left join: unmatched key 99 must appear exactly once, not n_salts times
    assert out.filter(F.col("k") == 99).count() == 1
    assert out.count() == 3


def test_salted_aggregate_avg_decomposition(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    out = salted_aggregate(
        li, ["l_linestatus"], [("l_quantity", "sum"), ("*", "count")], n_salts=8
    ).withColumn("avg_qty", F.round(F.col("sum_l_quantity") / F.col("count_star"), 6))
    plain = li.groupBy("l_linestatus").agg(
        F.round(F.avg("l_quantity"), 6).alias("avg_qty")
    )
    got = {(r.l_linestatus, r.avg_qty) for r in out.select("l_linestatus", "avg_qty").collect()}
    exp = {(r.l_linestatus, r.avg_qty) for r in plain.collect()}
    assert got == exp
