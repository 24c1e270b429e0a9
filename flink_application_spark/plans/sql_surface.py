"""Generic SQL surface on the TPC-H-ish tables.

The reference rides Flink SQL, so "same query capabilities" includes
the relational surface any table engine implies (SURVEY §2.4 note):
group-by aggregates, multi-way joins, window functions, set ops,
rollup, semi/anti joins, scalar function library, time bucketing,
sessionization. Every query here is a thin Catalyst passthrough —
DataFrame API on the Spark side, ANSI SQL oracle on the DuckDB side.

Float discipline: aggregate outputs are ROUNDed in BOTH formulations so
summation-order ulp differences can't flip the driver's value hash.
Top-N queries carry a unique-key tie-break so LIMIT is deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.plans.registry import register


def _rev():
    # built lazily: Column construction needs an active SparkContext
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


@register(
    "tpch_q1_pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
    doc="TPC-H Q1 pricing summary: scan + filter + hash aggregate. "
    "Partial aggregation map-side; one shuffle on the 2 group keys.",
    tags=("sql", "agg"),
)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(_rev()), 2).alias("sum_disc_price"),
            F.round(F.sum(_rev() * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "tpch_q3_shipping_priority",
    """
SELECT l.l_orderkey AS l_orderkey,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       o.o_orderdate AS o_orderdate
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
""",
    doc="TPC-H Q3: 3-way join + agg + deterministic top-10 "
    "(tie-break on unique l_orderkey). customer/orders sides are "
    "broadcast-eligible after the segment filter.",
    tags=("sql", "join", "topn"),
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, o, c = (table(spark, sf_dir, t) for t in ("lineitem", "orders", "customer"))
    return (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .filter(
            (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp_ntz"))
        )
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum(_rev()), 2).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@register(
    "tpch_q5_local_supplier",
    """
SELECT n.n_name AS n_name,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM region r
JOIN nation n ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
""",
    doc="TPC-H Q5: 6-way join with local-supplier condition. Dims "
    "(region/nation/customer/supplier) broadcast; fact tables join on "
    "orderkey.",
    tags=("sql", "join"),
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, o, c, s, n, r = (
        table(spark, sf_dir, t)
        for t in ("lineitem", "orders", "customer", "supplier", "nation", "region")
    )
    return (
        r.filter(F.col("r_name") == "ASIA")
        .join(n, n.n_regionkey == r.r_regionkey)
        .join(c, c.c_nationkey == n.n_nationkey)
        .join(o, o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(s, (s.s_suppkey == li.l_suppkey) & (s.s_nationkey == c.c_nationkey))
        .groupBy("n_name")
        .agg(F.round(F.sum(_rev()), 2).alias("revenue"))
    )


@register(
    "tpch_q10_returned_items",
    """
SELECT c.c_custkey AS c_custkey, c.c_name AS c_name,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       n.n_name AS n_name
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
""",
    doc="TPC-H Q10: returned-item revenue per customer, top-20.",
    tags=("sql", "join", "topn"),
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, o, c, n = (
        table(spark, sf_dir, t)
        for t in ("lineitem", "orders", "customer", "nation")
    )
    return (
        c.join(o, o.o_custkey == c.c_custkey)
        .join(li.filter(F.col("l_returnflag") == "R"), li.l_orderkey == o.o_orderkey)
        .join(n, n.n_nationkey == c.c_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(_rev()), 2).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@register(
    "agg_distinct_and_conditional",
    """
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS distinct_parts,
       count(DISTINCT l_suppkey) AS distinct_supps,
       CAST(sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
       CAST(sum(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
       round(sum(CASE WHEN l_discount > 0.05 THEN l_extendedprice ELSE 0 END), 2) AS discounted_price
FROM lineitem
GROUP BY l_returnflag
""",
    doc="Distinct aggregates + conditional (pivot-style) aggregation — "
    "Catalyst expands distinct aggs into a two-phase expand+agg plan.",
    tags=("sql", "agg"),
)
def q_distinct_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("distinct_parts"),
        F.countDistinct("l_suppkey").alias("distinct_supps"),
        F.sum(F.when(F.col("l_linestatus") == "F", 1).otherwise(0)).alias("n_f"),
        F.sum(F.when(F.col("l_linestatus") == "O", 1).otherwise(0)).alias("n_o"),
        F.round(
            F.sum(F.when(F.col("l_discount") > 0.05, F.col("l_extendedprice")).otherwise(0.0)),
            2,
        ).alias("discounted_price"),
    )


@register(
    "rollup_order_revenue",
    """
SELECT coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
       coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
       round(sum(o_totalprice), 2) AS total,
       count(*) AS n
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""",
    doc="ROLLUP hierarchy aggregate (status → priority → grand total).",
    tags=("sql", "agg", "rollup"),
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("total"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("o_orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("o_orderpriority"),
            "total",
            "n",
        )
    )


@register(
    "window_running_revenue",
    """
SELECT l_suppkey, l_orderkey, l_linenumber,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                      * (1 - CAST(l_discount AS DECIMAL(18,6)))) OVER (
         PARTITION BY l_suppkey
         ORDER BY l_shipdate, l_orderkey, l_linenumber
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ), 2) AS DOUBLE) AS running_revenue
FROM lineitem
WHERE l_suppkey <= 3
""",
    doc="Running-total window over a deterministic total order "
    "(shipdate, orderkey, linenumber is a unique key). Prefix sums grow "
    "to ~1e7 where double ulp noise flips 2-decimal rounding, so the "
    "accumulation is exact DECIMAL; output cast back to double.",
    tags=("sql", "window"),
)
def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    w = (
        W.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    rev_dec = F.col("l_extendedprice").cast("decimal(18,6)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,6)")
    )
    return li.filter(F.col("l_suppkey") <= 3).select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.round(F.sum(rev_dec).over(w), 2).cast("double").alias("running_revenue"),
    )


@register(
    "window_topn_per_group",
    """
SELECT p_brand, p_partkey, p_name, p_retailprice, rn
FROM (
  SELECT p_brand, p_partkey, p_name, p_retailprice,
         row_number() OVER (
           PARTITION BY p_brand
           ORDER BY p_retailprice DESC, p_partkey ASC
         ) AS rn
  FROM part
)
WHERE rn <= 3
""",
    doc="Top-3 parts by price per brand — the generic form of the "
    "reference's arg-max dedup (rank instead of max-by).",
    tags=("sql", "window", "topn"),
)
def q_window_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    w = W.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey").asc()
    )
    return (
        p.select(
            "p_brand",
            "p_partkey",
            "p_name",
            "p_retailprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "window_lag_gap",
    """
SELECT user_id, event_id, ts,
       coalesce(
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
            PARTITION BY user_id ORDER BY ts, event_id),
         -1) AS gap_us
FROM events
""",
    doc="lag() inter-event gap per user (µs epoch: exact integers in "
    "both engines; session tz is UTC).",
    tags=("sql", "window", "events"),
)
def q_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        F.coalesce(us - F.lag(us).over(w), F.lit(-1)).alias("gap_us"),
    )


@register(
    "set_ops_customers",
    """
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
INTERSECT
SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
UNION
SELECT c_custkey FROM customer WHERE c_acctbal < 0
EXCEPT
SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
""",
    doc="Set operations: INTERSECT / UNION / EXCEPT chain "
    "(standard precedence: INTERSECT binds tighter).",
    tags=("sql", "setops"),
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    c, o = (table(spark, sf_dir, t) for t in ("customer", "orders"))
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    f_orders = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("c_custkey")
    )
    negative = c.filter(F.col("c_acctbal") < 0).select("c_custkey")
    machinery = c.filter(F.col("c_mktsegment") == "MACHINERY").select("c_custkey")
    # SQL set ops are DISTINCT by default: intersect/subtract are; the
    # UNION needs an explicit distinct before EXCEPT.
    return building.intersect(f_orders).union(negative).distinct().subtract(machinery)


@register(
    "semi_anti_join",
    """
SELECT c.c_custkey, c.c_name,
       CASE WHEN o.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS has_orders
FROM customer c
LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o
  ON c.c_custkey = o.o_custkey
""",
    doc="Semi/anti-join surface: per-customer order-existence flag "
    "(Spark plans left_semi/left_anti; expressed as one query for the "
    "oracle).",
    tags=("sql", "join"),
)
def q_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c, o = (table(spark, sf_dir, t) for t in ("customer", "orders"))
    semi = (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .withColumn("has_orders", F.lit(1))
    )
    anti = (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .withColumn("has_orders", F.lit(0))
    )
    return semi.unionByName(anti)


@register(
    "date_function_library",
    """
SELECT o_orderkey,
       CAST(o_orderdate AS DATE) AS order_date,
       year(o_orderdate) AS order_year,
       month(o_orderdate) AS order_month,
       day(o_orderdate) AS order_day,
       quarter(o_orderdate) AS order_quarter,
       CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start
FROM orders
WHERE o_orderkey % 10 = 0
""",
    doc="Date/time function library: extraction + truncation "
    "(P2/P3 generalized).",
    tags=("sql", "scalar", "date"),
)
def q_date_lib(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("order_date"),
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.quarter("o_orderdate").alias("order_quarter"),
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month_start"),
    )


@register(
    "events_tumbling_window",
    """
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY date_trunc('hour', ts), event_type
""",
    doc="Tumbling 1-hour window aggregate over the event stream table — "
    "batch form of Structured Streaming's window(); date_trunc keeps the "
    "oracle portable.",
    tags=("sql", "events", "window-agg"),
)
def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("window_start"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


@register(
    "events_sessionization",
    """
WITH gaps AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
                PARTITION BY user_id ORDER BY ts, event_id)
                   > 1800000000
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_new_session
  FROM events
),
sessions AS (
  SELECT *, CAST(sum(is_new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS session_id
  FROM gaps
)
SELECT user_id, session_id,
       count(*) AS n_events,
       min(ts) AS session_start,
       max(ts) AS session_end,
       round(sum(value), 2) AS session_value
FROM sessions
GROUP BY user_id, session_id
""",
    doc="Batch sessionization (30-min gap): lag → new-session flag → "
    "running count → per-session agg. Batch twin of the reference's "
    "processing-time session window (EnrichmentApp.java:147).",
    tags=("sql", "events", "session"),
)
def q_events_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev_us = F.lag(us).over(w)
    is_new = F.when(
        prev_us.isNull() | ((us - prev_us) > 1_800_000_000), 1
    ).otherwise(0)
    run = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return (
        ev.select("user_id", "event_id", "ts", "value", is_new.alias("is_new_session"))
        .withColumn("session_id", F.sum("is_new_session").over(run))
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
    )


# ---------------------------------------------------------------------------
# Batch 2: joins/aggregation breadth (EXISTS, HAVING, pivot, cube, JSON,
# exact percentiles, full outer, hopping windows)
# ---------------------------------------------------------------------------

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "tpch_q6_revenue_forecast",
    """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 25
""",
    doc="TPC-H Q6 forecasting revenue change: pure scan + conjunctive "
    "filter + global agg — every predicate reaches the parquet reader "
    "(PushedFilters), zero shuffle beyond the final reduce.",
    tags=("sql", "agg", "tpch"),
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
            & F.col("l_discount").between(0.03, 0.07)
            & (F.col("l_quantity") < 25)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "tpch_q14_promo_revenue",
    """
SELECT round(
         100.0 * sum(CASE WHEN p_type = 'PROMO'
                          THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
         / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-07-01 00:00:00'
""",
    doc="TPC-H Q14 promotion effect: fact-dim broadcast join + "
    "conditional aggregation ratio.",
    tags=("sql", "join", "tpch"),
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, part = (table(spark, sf_dir, t) for t in ("lineitem", "part"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1996-07-01").cast("timestamp_ntz"))
        )
        .join(F.broadcast(part.select("p_partkey", "p_type")), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0)))
                / F.sum(rev),
                4,
            ).alias("promo_revenue_pct")
        )
    )


@register(
    "tpch_q18_large_orders",
    """
SELECT c_name, o_orderkey, o_orderdate, round(o_totalprice, 2) AS o_totalprice,
       round(sum(l_quantity), 2) AS total_qty
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY c_name, o_orderkey, o_orderdate, o_totalprice
HAVING sum(l_quantity) > 120
""",
    doc="TPC-H Q18 large-volume customers: 3-way join + group + HAVING. "
    "The orderkey aggregation co-partitions with the orders join "
    "(same key), so AQE reuses the exchange.",
    tags=("sql", "join", "agg", "tpch"),
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust, orders, li = (table(spark, sf_dir, t) for t in ("customer", "orders", "lineitem"))
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("c_name", "o_orderkey", "o_orderdate", F.col("o_totalprice"))
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > 120)
        .select(
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "total_qty",
        )
    )


@register(
    "tpch_q4_priority_exists",
    """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
)
GROUP BY o_orderpriority
""",
    doc="TPC-H Q4 order-priority checking: correlated EXISTS → left-semi "
    "join with a non-equi conjunct, then count by priority.",
    tags=("sql", "join", "semi", "tpch"),
)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, li = (table(spark, sf_dir, t) for t in ("orders", "lineitem"))
    semi = orders.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate")),
        "left_semi",
    )
    return semi.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@register(
    "pivot_event_type_counts",
    """
SELECT user_id % 10 AS cohort,
       count(*) FILTER (event_type = 'click')    AS click,
       count(*) FILTER (event_type = 'error')    AS error,
       count(*) FILTER (event_type = 'purchase') AS purchase,
       count(*) FILTER (event_type = 'signup')   AS signup,
       count(*) FILTER (event_type = 'view')     AS view
FROM events
GROUP BY 1
""",
    doc="Pivot (long→wide): per-cohort event-type matrix via "
    "groupBy().pivot() with an explicit value list (one pass, no "
    "second distinct-scan job).",
    tags=("sql", "pivot", "events"),
)
def q_pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    wide = (
        ev.withColumn("cohort", F.col("user_id") % 10)
        .groupBy("cohort")
        .pivot("event_type", EVENT_TYPES)
        .count()
    )
    return wide.select(
        "cohort", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in EVENT_TYPES]
    )


@register(
    "cube_order_priority_stats",
    """
SELECT o_orderstatus, o_orderpriority,
       grouping(o_orderstatus) AS g_status,
       grouping(o_orderpriority) AS g_priority,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
    doc="CUBE with grouping() flags: all 4 aggregation lattices in one "
    "pass (Catalyst Expand), matching the rollup query's pattern.",
    tags=("sql", "agg", "cube"),
)
def q_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            # grouping() is TINYINT in Spark, BIGINT in DuckDB — align
            F.grouping("o_orderstatus").cast("bigint").alias("g_status"),
            F.grouping("o_orderpriority").cast("bigint").alias("g_priority"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


@register(
    "json_props_stats",
    """
SELECT event_type,
       count(*) AS n,
       min(CAST(json_extract(props, '$.k') AS INTEGER)) AS min_k,
       max(CAST(json_extract(props, '$.k') AS INTEGER)) AS max_k,
       round(avg(CAST(json_extract(props, '$.k') AS INTEGER)), 4) AS avg_k
FROM events
GROUP BY event_type
""",
    doc="JSON column functions: extract a typed field from a JSON "
    "string column (get_json_object — JVM-side Jackson, no UDF) and "
    "aggregate it.",
    tags=("sql", "json", "events"),
)
def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.round(F.avg("k"), 4).alias("avg_k"),
        )
    )


@register(
    "events_props_variant_stats",
    """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
       CAST(sum(CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) % 2 = 1
                THEN 1 ELSE 0 END) AS BIGINT) AS n_k_odd,
       CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
FROM events
GROUP BY event_type
""",
    doc="Spark 4 VARIANT path over semi-structured props: parse_json "
    "ONCE into a VariantType column (binary-encoded, no re-parse per "
    "field access), then typed variant_get extraction feeding an "
    "aggregate — the modern engine surface for schema-flexible "
    "columns. At 100 TB parse-once-extract-many beats per-field "
    "get_json_object re-parsing (json_props_stats is the classic "
    "form); the oracle extracts the same typed values with DuckDB's "
    "JSON functions.",
    tags=("sql", "json", "variant", "events"),
)
def q_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.expr("variant_get(v, '$.k', 'bigint')")
    return (
        ev.select("event_type", v.alias("v"))
        .select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("k_sum"),
            F.sum(F.when(F.col("k") % 2 == 1, 1).otherwise(0)).alias("n_k_odd"),
            F.max("k").alias("max_k"),
        )
    )


@register(
    "percentile_quantity_by_flag",
    """
SELECT l_returnflag,
       round(CAST(quantile_cont(l_quantity, 0.25) AS DOUBLE), 4) AS p25,
       round(CAST(quantile_cont(l_quantity, 0.50) AS DOUBLE), 4) AS p50,
       round(CAST(quantile_cont(l_quantity, 0.75) AS DOUBLE), 4) AS p75
FROM lineitem
GROUP BY l_returnflag
""",
    doc="Exact continuous percentiles (sort-based, not approx sketch) "
    "per group — deterministic, hence oracle-able; the approximate "
    "scale path is approx_percentile (same API shape).",
    tags=("sql", "agg", "percentile"),
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        *[
            F.round(F.expr(f"percentile(l_quantity, {q})"), 4).alias(f"p{int(q*100)}")
            for q in (0.25, 0.50, 0.75)
        ]
    )


@register(
    "full_outer_customer_orders",
    """
SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey,
       c.c_name,
       count(o.o_orderkey) AS n_orders,
       round(coalesce(sum(o.o_totalprice), 0), 2) AS total_spent
FROM customer c
FULL OUTER JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY 1, 2
""",
    doc="FULL OUTER join + null-side coalesce: customers without orders "
    "and (if any) orders without customers both survive.",
    tags=("sql", "join", "outer"),
)
def q_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust, orders = (table(spark, sf_dir, t) for t in ("customer", "orders"))
    j = cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "full_outer")
    return (
        j.groupBy(
            F.coalesce("c_custkey", "o_custkey").alias("custkey"), F.col("c_name")
        )
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total_spent"),
        )
    )


@register(
    "events_hopping_window",
    """
WITH hops AS (
  SELECT event_type, value,
         time_bucket(INTERVAL 5 MINUTE, ts)
           - unnest([INTERVAL 0 MINUTE, INTERVAL 5 MINUTE]) AS window_start
  FROM events
)
SELECT window_start, window_start + INTERVAL 10 MINUTE AS window_end,
       event_type, count(*) AS n, round(sum(value), 2) AS total_value
FROM hops
GROUP BY 1, 2, 3
""",
    doc="Hopping (sliding) window: 10-minute windows every 5 minutes — "
    "F.window(ts, '10 minutes', '5 minutes'); each event lands in 2 "
    "windows (Expand), the streaming-native sliding aggregation run "
    "in batch.",
    tags=("sql", "window", "events", "streaming-op"),
)
def q_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = F.window("ts", "10 minutes", "5 minutes")
    return (
        ev.groupBy(w.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


@register(
    "salted_agg_lineitem",
    """
SELECT l_returnflag,
       round(sum(l_extendedprice), 2) AS sum_l_extendedprice,
       count(*) AS count_star,
       round(min(l_quantity), 2) AS min_l_quantity,
       round(max(l_quantity), 2) AS max_l_quantity
FROM lineitem
GROUP BY l_returnflag
""",
    doc="Skew-proof two-stage aggregation (operators/skew.py): partial "
    "agg on (key, salt) then combine on key — same result as the plain "
    "group-by (this oracle), but a 1B-row hot key spreads over 16 "
    "tasks instead of one. The pattern AQE can't apply to aggregates.",
    tags=("sql", "agg", "skew"),
)
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_application_spark.operators.skew import salted_aggregate

    li = table(spark, sf_dir, "lineitem")
    out = salted_aggregate(
        li,
        keys=["l_returnflag"],
        aggs=[
            ("l_extendedprice", "sum"),
            ("*", "count"),
            ("l_quantity", "min"),
            ("l_quantity", "max"),
        ],
        n_salts=16,
        salt_from=["l_orderkey", "l_linenumber"],
    )
    return out.select(
        "l_returnflag",
        F.round("sum_l_extendedprice", 2).alias("sum_l_extendedprice"),
        "count_star",
        F.round("min_l_quantity", 2).alias("min_l_quantity"),
        F.round("max_l_quantity", 2).alias("max_l_quantity"),
    )


@register(
    "agg_approx_sketches",
    None,  # sketch internals (HLL++ / KLL) are engine-specific — no
           # cross-engine value parity; error bounds are property-tested
           # in tests/test_approx.py against the exact aggregates
    doc="Sketch aggregates for 100 TB-scale profiling: HLL++ distinct "
    "counts (approx_count_distinct, rsd 1%) and KLL quantiles "
    "(approx_percentile) per return flag — one map-side-combinable "
    "shuffle regardless of key cardinality, constant memory per key "
    "vs O(distinct) for exact. The scale path for corpus statistics "
    "where exact percentile_quantity_by_flag would spill. Quantiles "
    "are projected to SCALAR p50/p95 columns — the driver's pandas "
    "canonicalizer cannot hash array cells (r05 red row; the same "
    "class as doc_hashing_trick_embedding in r02), and the registry "
    "schema gate in tests/test_oracle_parity.py now bans complex "
    "top-level output types for every registered query.",
    tags=("agg", "approx", "sketch"),
)
def q_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    q = F.percentile_approx("l_extendedprice", [0.5, 0.95], 10000)
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_orderkey", rsd=0.01).alias("approx_orders"),
            F.approx_count_distinct("l_partkey", rsd=0.01).alias("approx_parts"),
            q.alias("_q"),
        )
        .select(
            "l_returnflag",
            "approx_orders",
            "approx_parts",
            F.element_at("_q", 1).alias("price_p50"),
            F.element_at("_q", 2).alias("price_p95"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "events_two_level_rollup",
    """
WITH hourly AS (
  SELECT user_id,
         date_trunc('hour', ts) AS bucket_hour,
         count(*) AS n_events,
         round(sum(value), 2) AS sum_value,
         max(value) AS max_value
  FROM events
  GROUP BY user_id, date_trunc('hour', ts)
)
SELECT user_id,
       CAST(date_trunc('day', bucket_hour) AS DATE) AS bucket_day,
       CAST(sum(n_events) AS BIGINT) AS n_events,
       round(sum(sum_value), 2) AS sum_value,
       max(max_value) AS max_value
FROM hourly
GROUP BY user_id, date_trunc('day', bucket_hour)
""",
    doc="Hypertable-style two-level rollup: daily aggregates computed "
    "FROM the hourly continuous aggregate (sum of sums, max of maxes), "
    "never rescanning raw events — the materialized-rollup pattern "
    "that makes downsampling O(buckets) instead of O(rows) at 100 TB. "
    "The oracle recomputes the same two-level plan; hash equality "
    "proves partial-aggregate reuse is lossless (count/sum/max are "
    "decomposable; avg must be derived as sum/count, never rolled up).",
    tags=("events", "rollup", "timeseries"),
)
def q_two_level_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy("user_id", F.date_trunc("hour", "ts").alias("bucket_hour"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.max("value").alias("max_value"),
        )
    )
    return (
        hourly.groupBy(
            "user_id",
            F.date_trunc("day", "bucket_hour").cast("date").alias("bucket_day"),
        )
        .agg(
            F.sum("n_events").alias("n_events"),
            F.round(F.sum("sum_value"), 2).alias("sum_value"),
            F.max("max_value").alias("max_value"),
        )
    )


@register(
    "stats_price_discount_correlation",
    """
SELECT l_returnflag,
       round(corr(l_extendedprice, l_quantity), 6) AS corr_price_qty,
       round(covar_samp(l_extendedprice, l_quantity), 2) AS covar_price_qty,
       round(regr_slope(l_extendedprice, l_quantity), 4) AS slope_price_on_qty,
       round(stddev_samp(l_discount), 6) AS sd_discount
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    doc="Statistical profile aggregates: Pearson correlation, sample "
    "covariance, regression slope, stddev per group — the one-pass "
    "decomposable moments (sum, sum of squares, cross products) that "
    "partial-aggregate map-side like any sum; one shuffle on the group "
    "key regardless of row count.",
    tags=("agg", "stats"),
)
def q_stats_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias("corr_price_qty"),
            F.round(F.covar_samp("l_extendedprice", "l_quantity"), 2).alias("covar_price_qty"),
            F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("slope_price_on_qty"),
            F.round(F.stddev_samp("l_discount"), 6).alias("sd_discount"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "events_value_histogram",
    """
SELECT event_type,
       CAST(CASE WHEN value < 0.0 THEN 0
                 WHEN value >= 1000.0 THEN 21
                 ELSE floor(value / 50.0) + 1 END AS INTEGER) AS bucket,
       count(*) AS n,
       round(min(value), 3) AS lo,
       round(max(value), 3) AS hi
FROM events
GROUP BY 1, 2
ORDER BY event_type, bucket
""",
    doc="Equi-width histogram per event type via width_bucket (the oracle "
    "spells out the same floor arithmetic — DuckDB has no width_bucket) — the "
    "distribution-profiling scan a pipeline runs before choosing "
    "partition bounds. Scan-local bucketing; one shuffle on "
    "(type, bucket) with map-side partials.",
    tags=("events", "histogram", "profiling"),
)
def q_events_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    bucket = F.width_bucket(F.col("value"), F.lit(0.0), F.lit(1000.0), F.lit(20))
    return (
        ev.groupBy("event_type", bucket.cast("int").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 3).alias("lo"),
            F.round(F.max("value"), 3).alias("hi"),
        )
        .orderBy("event_type", "bucket")
    )


@register(
    "snapshot_diff_orders",
    """
WITH old AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
  WHERE o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
),
new AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
  WHERE o_orderdate < TIMESTAMP '2000-01-01 00:00:00'
    AND o_orderstatus <> 'F'
)
SELECT CASE
         WHEN o.o_orderkey IS NULL THEN 'inserted'
         WHEN n.o_orderkey IS NULL THEN 'deleted'
         ELSE 'changed'
       END AS change_type,
       count(*) AS n
FROM old o
FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
   OR o.o_orderstatus <> n.o_orderstatus
   OR o.o_totalprice <> n.o_totalprice
GROUP BY 1
ORDER BY change_type
""",
    doc="Snapshot diff (incremental-ingest change detection): full "
    "outer join of two table generations on the business key, rows "
    "classified inserted/deleted/changed — what a 100 TB incremental "
    "pipeline computes to avoid full rewrites. One co-partitioned "
    "shuffle on the key; unchanged rows are filtered before the "
    "(tiny) classification aggregate.",
    tags=("cdc", "diff", "join"),
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    old = o.filter(
        F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp_ntz")
    ).select(
        F.col("o_orderkey").alias("old_key"),
        F.col("o_orderstatus").alias("old_status"),
        F.col("o_totalprice").alias("old_price"),
    )
    new = o.filter(
        (F.col("o_orderdate") < F.lit("2000-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderstatus") != "F")
    ).select(
        F.col("o_orderkey").alias("new_key"),
        F.col("o_orderstatus").alias("new_status"),
        F.col("o_totalprice").alias("new_price"),
    )
    joined = old.join(new, old.old_key == new.new_key, "full_outer")
    changed = joined.filter(
        F.col("old_key").isNull()
        | F.col("new_key").isNull()
        | (F.col("old_status") != F.col("new_status"))
        | (F.col("old_price") != F.col("new_price"))
    )
    change_type = (
        F.when(F.col("old_key").isNull(), "inserted")
        .when(F.col("new_key").isNull(), "deleted")
        .otherwise("changed")
    )
    return (
        changed.groupBy(change_type.alias("change_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("change_type")
    )


@register(
    "grouping_sets_order_stats",
    """
SELECT o_orderstatus, o_orderpriority,
       CAST(grouping(o_orderstatus) AS INTEGER) AS g_status,
       CAST(grouping(o_orderpriority) AS INTEGER) AS g_priority,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
ORDER BY g_status, g_priority, o_orderstatus, o_orderpriority
""",
    doc="Explicit GROUPING SETS (beyond the cube/rollup queries): three "
    "aggregation granularities in one pass with grouping() flags "
    "disambiguating NULL-as-total from NULL data. Spark expands sets "
    "into one Expand + single shuffle, not three scans.",
    tags=("sql", "agg", "grouping"),
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("_orders_gs")
    return o.sparkSession.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(grouping(o_orderpriority) AS INT) AS g_priority,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM _orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        ORDER BY g_status, g_priority, o_orderstatus, o_orderpriority
        """
    )


@register(
    "collection_function_library",
    """
SELECT vec_id,
       len(embedding) AS n_dims,
       round(CAST(embedding[1] AS DOUBLE), 4) + 0.0 AS first_dim,
       len(list_filter(embedding, x -> x > 0)) AS n_positive,
       round(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE)), 'sum'), 4) + 0.0 AS dim_sum,
       round(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE)), 'max'), 4) + 0.0 AS dim_max,
       list_contains(list_transform(embedding, x -> x > 0.5), true) AS any_large,
       round(list_sort(list_transform(embedding, x -> CAST(x AS DOUBLE)))[CAST(len(embedding)/2 AS INTEGER) + 1], 4) + 0.0 AS upper_median
FROM embeddings
WHERE vec_id < 200
""",
    doc="Collection-function library over array<float>: size, index, "
    "filter, fold (aggregate), exists, sort — the higher-order "
    "expressions custom array logic composes from. All scan-local "
    "Catalyst expressions (interpreted HOFs, no Python); -0.0 "
    "normalized via +0.0 on both engines.",
    tags=("sql", "array", "functions"),
)
def q_collection_library(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    dbl = F.transform(e, lambda x: x.cast("double"))
    return emb.filter(F.col("vec_id") < 200).select(
        "vec_id",
        F.size(e).alias("n_dims"),
        # round on DOUBLE on both engines: rounding the raw float32 and
        # widening after yields a different double than widening first
        # (driver dtype audit: first_dim was float32 on the oracle side)
        (F.round(F.element_at(e, 1).cast("double"), 4) + F.lit(0.0)).alias(
            "first_dim"
        ),
        F.size(F.filter(e, lambda x: x > 0)).alias("n_positive"),
        (F.round(F.aggregate(dbl, F.lit(0.0), lambda a, x: a + x), 4) + F.lit(0.0)).alias("dim_sum"),
        (F.round(F.array_max(dbl), 4) + F.lit(0.0)).alias("dim_max"),
        F.exists(e, lambda x: x > 0.5).alias("any_large"),
        (
            F.round(
                F.element_at(
                    F.array_sort(dbl), (F.size(e) / 2).cast("int") + 1
                ),
                4,
            )
            + F.lit(0.0)
        ).alias("upper_median"),
    )


@register(
    "market_basket_part_pairs",
    """
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
       count(DISTINCT a.l_orderkey) AS n_orders
FROM lineitem a
JOIN lineitem b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
HAVING count(DISTINCT a.l_orderkey) >= 2
""",
    doc="Market-basket co-occurrence mining: part pairs ordered "
    "together in >= 2 distinct orders (the support-counting core of "
    "association rules). The self-join key is l_orderkey whose "
    "fan-out is bounded by order size (<= 7 lineitems in TPC-H), so "
    "pair generation is LINEAR in lineitem — one shuffle on orderkey "
    "producing <= 21 pairs/order, then one aggregate shuffle on the "
    "pair key. The unbounded-basket variant needs a per-basket cap "
    "or frequent-item pruning (a-priori) first; with TPC-H's bound "
    "the naive plan IS the scale plan.",
    tags=("sql", "basket", "lineitem"),
)
def q_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a"))
    b = li.select(F.col("l_orderkey").alias("ok_b"), F.col("l_partkey").alias("part_b"))
    return (
        a.join(b, (F.col("ok") == F.col("ok_b")) & (F.col("part_a") < F.col("part_b")))
        .groupBy("part_a", "part_b")
        .agg(F.count_distinct(F.col("ok")).alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
    )


@register(
    "events_retention_cohorts",
    """
WITH first_seen AS (
  SELECT user_id, min(ts) AS t0 FROM events GROUP BY user_id
),
acts AS (
  SELECT e.user_id,
         CAST(date_trunc('week', f.t0) AS DATE) AS cohort_week,
         CAST(floor(date_diff('day', CAST(f.t0 AS DATE), CAST(e.ts AS DATE)) / 7)
              AS BIGINT) AS week_offset
  FROM events e JOIN first_seen f ON e.user_id = f.user_id
)
SELECT cohort_week, week_offset, count(DISTINCT user_id) AS n_active_users
FROM acts
GROUP BY cohort_week, week_offset
""",
    doc="Retention cohort matrix: users bucketed by the week they "
    "first appeared, counted as active per whole-week offset since "
    "then. Two shuffles on user_id (first-seen aggregate + the "
    "enrichment join — same key, so AQE/bucketing co-locates them) "
    "and a final small aggregate on (cohort, offset). The classic "
    "growth-analytics readout of an event stream; both engines "
    "truncate weeks to Monday.",
    tags=("sql", "retention", "events"),
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    first_seen = events.groupBy("user_id").agg(F.min("ts").alias("t0"))
    acts = events.join(first_seen, "user_id").select(
        "user_id",
        F.date_trunc("week", F.col("t0")).cast("date").alias("cohort_week"),
        F.floor(F.datediff(F.col("ts").cast("date"), F.col("t0").cast("date")) / 7)
        .cast("bigint")
        .alias("week_offset"),
    )
    return acts.groupBy("cohort_week", "week_offset").agg(
        F.count_distinct("user_id").alias("n_active_users")
    )


@register(
    "events_anomaly_zscore",
    """
WITH stats AS (
  SELECT event_type,
         avg(value) AS mu,
         stddev_pop(value) AS sigma,
         count(*) AS n
  FROM events
  GROUP BY event_type
)
SELECT e.event_type,
       max(s.n) AS n_events,
       count(*) FILTER (WHERE abs((e.value - s.mu) / s.sigma) > 3)
         AS n_anomalies,
       round(max(abs((e.value - s.mu) / s.sigma)), 4) + 0.0 AS max_abs_z
FROM events e JOIN stats s ON e.event_type = s.event_type
WHERE s.sigma > 0
GROUP BY e.event_type
""",
    doc="Z-score anomaly detection per event type: two passes over "
    "events — a per-type mean/stddev aggregate (tiny result, "
    "broadcast back) and a scan-local flagging pass, so the raw "
    "stream is read twice but shuffled ZERO times beyond the "
    "stats aggregate. The streaming form replaces pass one with a "
    "sliding-window aggregate; thresholded counts are integers so "
    "cross-engine float drift can't flip them except exactly at the "
    "|z|=3 boundary.",
    tags=("sql", "anomaly", "events"),
)
def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    stats = events.groupBy("event_type").agg(
        F.avg("value").alias("mu"),
        F.stddev_pop("value").alias("sigma"),
        F.count(F.lit(1)).alias("n"),
    )
    z = F.abs((F.col("value") - F.col("mu")) / F.col("sigma"))
    return (
        events.join(F.broadcast(stats.filter(F.col("sigma") > 0)), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n").alias("n_events"),
            F.count(F.when(z > 3, 1)).alias("n_anomalies"),
            (F.round(F.max(z), 4) + F.lit(0.0)).alias("max_abs_z"),
        )
    )


@register(
    "window_range_frame_trailing_hour",
    """
SELECT user_id, event_id,
       CAST(count(*) OVER (
         PARTITION BY user_id
         ORDER BY epoch_us(ts)
         RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS n_trailing_hour,
       CAST(round(sum(value) OVER (
         PARTITION BY user_id
         ORDER BY epoch_us(ts)
         RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
       ), 4) AS DOUBLE) AS sum_trailing_hour
FROM events
""",
    doc="RANGE window frame (value-based, not row-based): per user, "
    "count and sum of events in the trailing hour of *event time* — "
    "the micro-batch-free form of a sliding aggregate. Ordering is by "
    "integer epoch-µs so the frame bound (3.6e9 µs) is exact in both "
    "engines; ties (same-µs events) share a frame, which RANGE "
    "semantics require and ROWS would get wrong. One hash exchange on "
    "user_id; frames evaluate in a single per-partition sort pass.",
    tags=("sql", "window", "events"),
)
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = (
        W.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-3_600_000_000, W.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).alias("n_trailing_hour"),
        F.round(F.sum("value").over(w), 4).cast("double").alias("sum_trailing_hour"),
    )


@register(
    "window_ntile_quartiles",
    """
SELECT o_orderpriority, quartile,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(round(min(o_totalprice), 2) AS DOUBLE) AS min_price,
       CAST(round(max(o_totalprice), 2) AS DOUBLE) AS max_price
FROM (
  SELECT o_orderpriority, o_totalprice,
         ntile(4) OVER (PARTITION BY o_orderpriority
                        ORDER BY o_totalprice, o_orderkey) AS quartile
  FROM orders
)
GROUP BY o_orderpriority, quartile
""",
    doc="ntile() bucketing: price quartiles within each order "
    "priority, reduced to per-bucket stats. The tie-break on "
    "o_orderkey makes bucket assignment a pure function of the data "
    "(ntile on a non-unique order is engine-dependent). Partitioned "
    "by priority so no global single-partition sort exists; a "
    "GLOBAL ntile at 100 TB would instead use approx percentiles + "
    "range partitioning.",
    tags=("sql", "window"),
)
def q_window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return (
        orders.select(
            "o_orderpriority",
            "o_totalprice",
            F.ntile(4).over(w).alias("quartile"),
        )
        .groupBy("o_orderpriority", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).cast("double").alias("min_price"),
            F.round(F.max("o_totalprice"), 2).cast("double").alias("max_price"),
        )
    )


@register(
    "unpivot_lineitem_metrics",
    """
WITH wide AS (
  SELECT l_returnflag, l_linestatus,
         CAST(round(sum(l_quantity), 2) AS DOUBLE) AS sum_qty,
         CAST(round(sum(l_extendedprice), 2) AS DOUBLE) AS sum_price,
         CAST(round(sum(l_discount), 2) AS DOUBLE) AS sum_disc
  FROM lineitem GROUP BY l_returnflag, l_linestatus
)
SELECT l_returnflag, l_linestatus, metric, value FROM (
  SELECT l_returnflag, l_linestatus, 'sum_qty' AS metric, sum_qty AS value FROM wide
  UNION ALL
  SELECT l_returnflag, l_linestatus, 'sum_price', sum_price FROM wide
  UNION ALL
  SELECT l_returnflag, l_linestatus, 'sum_disc', sum_disc FROM wide
)
""",
    doc="Unpivot (wide→long melt, the inverse of pivot): Q1-style "
    "per-(flag,status) sums unpivoted to one (metric, value) row per "
    "measure via DataFrame.unpivot — Spark's native UNPIVOT, which "
    "plans as a scan-local Expand (each input row emits k rows, no "
    "shuffle beyond the upstream aggregate). Long form is what "
    "metric stores and plotting layers ingest.",
    tags=("sql", "reshape"),
)
def q_unpivot_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).cast("double").alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).cast("double").alias("sum_price"),
        F.round(F.sum("l_discount"), 2).cast("double").alias("sum_disc"),
    )
    return wide.unpivot(
        ids=["l_returnflag", "l_linestatus"],
        values=["sum_qty", "sum_price", "sum_disc"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@register(
    "events_markov_transitions",
    """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
)
SELECT prev_type, event_type AS next_type,
       CAST(count(*) AS BIGINT) AS n_transitions,
       CAST(count(*) * 1000000 AS BIGINT)
         // CAST(sum(count(*)) OVER (PARTITION BY prev_type) AS BIGINT) AS p_ppm
FROM seq
WHERE prev_type IS NOT NULL
GROUP BY prev_type, event_type
""",
    doc="First-order Markov transition matrix over per-user event "
    "sequences: lag() pairs each event with its predecessor, then "
    "(prev, next) counts and the row-normalized transition "
    "probability in integer parts-per-million (exact cross-engine — "
    "no float division). The sequence-statistics pass of behavioral "
    "modeling / session-LM data prep. Shuffles once on user_id for "
    "the lag ordering, once on the (tiny) type-pair key; the window "
    "over prev_type runs on the already-aggregated matrix (|types|² "
    "rows), not the raw stream.",
    tags=("sql", "events", "sequence"),
)
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    seq = ev.select(
        "event_type",
        F.lag("event_type")
        .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    counts = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    row_total = F.sum("n_transitions").over(W.partitionBy("prev_type"))
    return counts.select(
        "prev_type",
        "next_type",
        "n_transitions",
        F.floor(F.col("n_transitions") * 1_000_000 / row_total)
        .cast("bigint")
        .alias("p_ppm"),
    )


@register(
    "events_key_skew_profile",
    """
WITH per_key AS (
  SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id
),
tot AS (SELECT count(*) AS total FROM events)
SELECT user_id, n_events,
       (n_events * 1000000) // total AS share_ppm,
       row_number() OVER (ORDER BY n_events DESC, user_id) AS rank
FROM (
  SELECT * FROM per_key CROSS JOIN tot
  ORDER BY n_events DESC, user_id LIMIT 20
)
""",
    doc="Key-distribution profiler: top-20 heaviest join/agg keys with "
    "integer-ppm traffic share — the diagnostic that decides whether a "
    "key needs salting (operators/skew.py) or an AQE skew-join split. "
    "Partial-agg shuffle on user_id, broadcast 1-row total, "
    "TakeOrdered top-20 (no global sort). At 100 TB this is the query "
    "you run BEFORE the big join, on a sample or on the fly.",
    tags=("sql", "skew", "diagnostics", "events"),
)
def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    per_key = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    tot = events.agg(F.count(F.lit(1)).alias("total"))
    top = (
        per_key.join(F.broadcast(tot))
        .orderBy(F.col("n_events").desc(), F.col("user_id"))
        .limit(20)
    )
    w = W.orderBy(F.col("n_events").desc(), F.col("user_id"))
    return top.select(
        "user_id",
        "n_events",
        F.expr("(n_events * 1000000) div total").alias("share_ppm"),
        F.row_number().over(w).alias("rank"),
    )


@register(
    "nation_revenue_share",
    """
WITH nat AS (
  SELECT n.n_name AS nation, r.r_name AS region,
         round(sum(o.o_totalprice), 2) AS revenue
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY n.n_name, r.r_name
)
SELECT nation, region, revenue,
       CAST((CAST(round(revenue * 100) AS BIGINT) * 1000000)
           // sum(CAST(round(revenue * 100) AS BIGINT)) OVER (PARTITION BY region)
           AS BIGINT) AS share_of_region_ppm,
       rank() OVER (PARTITION BY region ORDER BY revenue DESC, nation) AS rank_in_region
FROM nat
""",
    doc="Percent-of-total window over an aggregate: each nation's "
    "revenue share within its region (integer ppm of cents — exact "
    "cross-engine) plus rank. The window partitions by the 25-row "
    "aggregate output, not the fact table: the heavy work is the "
    "orders->customer shuffle join (nation/region broadcast), the "
    "analytics layer on top is free. The standard drill-down readout "
    "pattern (share + rank in one pass).",
    tags=("sql", "window", "orders"),
)
def q_nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, customer, nation, region = (
        table(spark, sf_dir, t)
        for t in ("orders", "customer", "nation", "region")
    )
    nat = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )
    wr = W.partitionBy("region")
    return nat.select(
        "nation",
        "region",
        "revenue",
        F.expr(
            "(CAST(round(revenue * 100) AS BIGINT) * 1000000) div "
            "sum(CAST(round(revenue * 100) AS BIGINT)) OVER (PARTITION BY region)"
        ).alias("share_of_region_ppm"),
        F.rank()
        .over(wr.orderBy(F.col("revenue").desc(), F.col("nation")))
        .alias("rank_in_region"),
    )


@register(
    "events_mad_by_type",
    """
WITH med AS (
  SELECT event_type, median(value) AS med_value
  FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_type, abs(e.value - m.med_value) AS adev, m.med_value
  FROM events e JOIN med m USING (event_type)
)
SELECT event_type,
       round(any_value(med_value), 4) AS med_value,
       round(median(adev), 4) AS mad,
       count(*) AS n
FROM dev
GROUP BY event_type
""",
    doc="Robust dispersion per group: exact median + median absolute "
    "deviation (the outlier-resistant spread estimate behind robust "
    "z-scores). Two exact-median aggregates on the same event_type "
    "key — the second shuffle reuses the first's partitioning; the "
    "tiny per-type medians broadcast back onto the facts. Interpolated "
    "medians of the same multiset are bit-identical cross-engine "
    "(mean of the two middle doubles).",
    tags=("sql", "stats", "events"),
)
def q_mad_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    med = events.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med_value")
    )
    dev = events.join(F.broadcast(med), "event_type").select(
        "event_type",
        F.abs(F.col("value") - F.col("med_value")).alias("adev"),
        "med_value",
    )
    return dev.groupBy("event_type").agg(
        F.round(F.any_value("med_value"), 4).alias("med_value"),
        F.round(F.expr("percentile(adev, 0.5)"), 4).alias("mad"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "customer_rfm_segmentation",
    """
WITH anchor AS (
  SELECT CAST(max(o_orderdate) AS DATE) AS d_max FROM orders
),
rfm AS (
  SELECT o_custkey AS custkey,
         date_diff('day', CAST(max(o_orderdate) AS DATE),
                   (SELECT d_max FROM anchor)) AS recency_days,
         count(*) AS frequency,
         CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS monetary_cents
  FROM orders GROUP BY o_custkey
)
SELECT custkey, recency_days, frequency, monetary_cents,
       r_score, f_score, m_score,
       r_score * 100 + f_score * 10 + m_score AS rfm_code
FROM (
  SELECT *,
         ntile(4) OVER (ORDER BY recency_days ASC, custkey) AS r_score,
         ntile(4) OVER (ORDER BY frequency DESC, custkey) AS f_score,
         ntile(4) OVER (ORDER BY monetary_cents DESC, custkey) AS m_score
  FROM rfm
)
""",
    doc="RFM customer segmentation: days-since-last-order, order "
    "count, lifetime cents (integer), each quartile-scored with "
    "ntile(4) and a deterministic custkey tie-break, composed into "
    "the classic 3-digit RFM code. One shuffle aggregates orders by "
    "customer; each quartile scoring runs as the two-phase "
    "DISTRIBUTED ntile (operators/ranks.global_ntile — range "
    "partition + broadcast base offsets; bit-equal to the window "
    "form), so no single-task sort of |customers| survives at scale.",
    tags=("sql", "segmentation", "orders"),
)
def q_customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    anchor = orders.agg(F.max(F.col("o_orderdate").cast("date")).alias("d_max"))
    rfm = (
        orders.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(F.sum("o_totalprice") * 100, 0)
            .cast("bigint")
            .alias("monetary_cents"),
        )
        .join(F.broadcast(anchor))
        .select(
            "custkey",
            F.datediff("d_max", "last_order").cast("bigint").alias("recency_days"),
            "frequency",
            "monetary_cents",
        )
    )
    from flink_application_spark.operators.ranks import global_ntile

    rfm = rfm.persist()  # three ntile passes + their count/subtotal
    # jobs must not re-aggregate orders each time
    scored = global_ntile(
        rfm, [F.col("recency_days").asc(), F.col("custkey").asc()], 4, "r_score"
    )
    scored = global_ntile(
        scored, [F.col("frequency").desc(), F.col("custkey").asc()], 4, "f_score"
    )
    scored = global_ntile(
        scored,
        [F.col("monetary_cents").desc(), F.col("custkey").asc()],
        4,
        "m_score",
    )
    return scored.withColumn(
        "rfm_code",
        F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score"),
    )


# ---------------------------------------------------------------------------
# Moved-late registration: quadratic baseline demoted out of the driver's
# first-50 sample window in favor of its scale-path successor
# (doc_jaccard_similarity_join); locally oracle-tested like everything else.
# ---------------------------------------------------------------------------

from flink_application_spark.plans.dedup_queries import (  # noqa: E402
    JACCARD_SQL as _JACCARD_SQL,
    SHINGLES_CTE as _SHINGLES_CTE,
)
from flink_application_spark.operators.minhash import (  # noqa: E402
    jaccard_column as _jaccard_column,
    with_shingles as _with_shingles,
)

@register(
    "doc_ngram_jaccard_topk",
    "WITH "
    + _SHINGLES_CTE
    + f"""
SELECT sa.doc_id AS id_a, sb.doc_id AS id_b, {_JACCARD_SQL} AS jaccard
FROM sh sa JOIN sh sb ON sa.doc_id < sb.doc_id
ORDER BY jaccard DESC, id_a ASC, id_b ASC
LIMIT 100
""",
    doc="All-pairs exact 3-gram Jaccard, top-100 — the exhaustive "
    "baseline the LSH path approximates (kept quadratic on purpose; "
    "the scale path is doc_near_dup_pairs_minhash_lsh).",
    tags=("dedup", "jaccard"),
)
def q_ngram_jaccard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    # both sides of the all-pairs join scan the shingle table — persist
    # so shingling runs once (the quadratic pair loop still dominates)
    sh = _with_shingles(docs).select("doc_id", "shingles").persist()
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", _jaccard_column(F.col("sh_a"), F.col("sh_b")).alias("jaccard"))
        .orderBy(F.col("jaccard").desc(), F.col("id_a").asc(), F.col("id_b").asc())
        .limit(100)
    )




@register(
    "pipe_syntax_returnflag_stats",
    """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       round(avg(l_quantity), 4) AS avg_qty
FROM lineitem
WHERE l_shipdate >= DATE '1995-01-01'
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    doc="SQL pipe syntax (Spark 4's |> operator chain — the readable "
    "linear form of nested SELECTs): FROM |> WHERE |> AGGREGATE ... "
    "GROUP BY |> ORDER BY. Parses to the IDENTICAL logical plan as "
    "the ANSI form (the oracle is that form), so Catalyst pushdown / "
    "partial-agg behavior is unchanged — this pins the surface, not "
    "new semantics.",
    tags=("sql", "pipe-syntax", "surface"),
)
def q_pipe_syntax_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "lineitem")
    return spark.sql(
        """
FROM lineitem
|> WHERE l_shipdate >= DATE '1995-01-01'
|> AGGREGATE CAST(count(*) AS BIGINT) AS n_items,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
             round(avg(l_quantity), 4) AS avg_qty
   GROUP BY l_returnflag
|> ORDER BY l_returnflag
"""
    )
