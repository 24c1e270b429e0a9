"""CDC changelog-merge query: apply a derived changelog to the
customer snapshot — the MERGE INTO primitive (SCD Type 1 upsert)
open-source Spark-on-parquet lacks, exercised end-to-end with
sequence-number conflict resolution.

The changelog is derived deterministically from orders so both engines
build the identical change set:
  - seq 1, U: every customer with orders gets their balance restated
    to acctbal_cents + lifetime order cents (full-row update);
  - seq 2, D: heavy customers (≥ 15 orders) are deleted — arriving
    LATER than their own U, so resolution must pick the D;
  - seq 1, I: a mirrored "archive" customer (key + 10_000_000) for
    single-order customers — inserts of keys absent from the snapshot.

`operators/merge.py` resolves multiple changes per key with a max_by
struct arg-max and applies them with ONE full-outer hash join — the
scale shape every table-format MERGE compiles to.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.operators.merge import apply_changelog
from flink_application_spark.plans.registry import register

_D_MIN_ORDERS = 15
_I_KEY_SHIFT = 10_000_000


def _cents(col: F.Column) -> F.Column:
    return F.round(col * 100).cast("bigint")


def _changelog(cust: DataFrame, orders: DataFrame) -> DataFrame:
    agg = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        _cents(F.sum("o_totalprice")).alias("spent_cents"),
    )
    base = cust.join(agg, "c_custkey")
    upd = base.select(
        "c_custkey",
        F.lit(1).alias("seq"),
        F.lit("U").alias("op"),
        F.col("c_name"),
        F.col("c_nationkey"),
        (_cents(F.col("c_acctbal")) + F.col("spent_cents")).alias("acctbal_cents"),
    )
    dels = base.filter(F.col("n_orders") >= _D_MIN_ORDERS).select(
        "c_custkey",
        F.lit(2).alias("seq"),
        F.lit("D").alias("op"),
        F.lit(None).cast("string").alias("c_name"),
        F.lit(None).cast("bigint").alias("c_nationkey"),
        F.lit(None).cast("bigint").alias("acctbal_cents"),
    )
    ins = base.filter(F.col("n_orders") == 1).select(
        (F.col("c_custkey") + _I_KEY_SHIFT).alias("c_custkey"),
        F.lit(1).alias("seq"),
        F.lit("I").alias("op"),
        F.concat(F.lit("archive:"), F.col("c_name")).alias("c_name"),
        F.col("c_nationkey"),
        _cents(F.col("c_acctbal")).alias("acctbal_cents"),
    )
    return upd.unionByName(dels).unionByName(ins)


@register(
    "customer_apply_changelog",
    f"""
WITH agg AS (
  SELECT o_custkey AS c_custkey, count(*) AS n_orders,
         CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS spent_cents
  FROM orders GROUP BY o_custkey
),
base AS (
  SELECT c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal,
         a.n_orders, a.spent_cents
  FROM customer c JOIN agg a ON a.c_custkey = c.c_custkey
),
changes AS (
  SELECT c_custkey, 1 AS seq, 'U' AS op, c_name, c_nationkey,
         CAST(round(c_acctbal * 100) AS BIGINT) + spent_cents AS acctbal_cents
  FROM base
  UNION ALL
  SELECT c_custkey, 2, 'D', NULL, NULL, NULL
  FROM base WHERE n_orders >= {_D_MIN_ORDERS}
  UNION ALL
  SELECT c_custkey + {_I_KEY_SHIFT}, 1, 'I', 'archive:' || c_name,
         c_nationkey, CAST(round(c_acctbal * 100) AS BIGINT)
  FROM base WHERE n_orders = 1
),
resolved AS (
  SELECT c_custkey, op, c_name, c_nationkey, acctbal_cents,
         row_number() OVER (PARTITION BY c_custkey
                            ORDER BY seq DESC, op DESC) AS rn
  FROM changes
),
winner AS (
  SELECT * FROM resolved WHERE rn = 1
),
snapshot AS (
  SELECT c_custkey, c_name, c_nationkey,
         CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents
  FROM customer
)
SELECT COALESCE(s.c_custkey, w.c_custkey) AS c_custkey,
       CASE WHEN w.c_custkey IS NULL THEN s.c_name ELSE w.c_name END AS c_name,
       CASE WHEN w.c_custkey IS NULL THEN s.c_nationkey ELSE w.c_nationkey END AS c_nationkey,
       CASE WHEN w.c_custkey IS NULL THEN s.acctbal_cents ELSE w.acctbal_cents END AS acctbal_cents
FROM snapshot s FULL OUTER JOIN winner w ON w.c_custkey = s.c_custkey
WHERE w.c_custkey IS NULL OR w.op IN ('I', 'U')
""",
    doc="CDC MERGE (SCD1 upsert) on the customer snapshot: a derived "
    f"changelog (balance-restating U for every buyer, later-arriving D "
    f"for ≥{_D_MIN_ORDERS}-order customers, I inserts of mirrored "
    "archive keys) resolved per key by highest (seq, op) and applied "
    "with one full-outer hash join — the primitive every table-format "
    "MERGE INTO compiles to, with replay-safe conflict resolution.",
    tags=("customer", "cdc", "merge"),
)
def q_apply_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust, orders = (table(spark, sf_dir, t) for t in ("customer", "orders"))
    snapshot = cust.select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        _cents(F.col("c_acctbal")).alias("acctbal_cents"),
    )
    return apply_changelog(
        snapshot, _changelog(cust, orders), key_cols=["c_custkey"], seq_col="seq"
    )
