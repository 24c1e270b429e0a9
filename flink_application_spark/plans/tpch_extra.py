"""Remaining TPC-H query shapes, adapted to the driver's reduced schema.

The driver's TPC-H-ish testdata has no ``partsupp`` table and drops some
columns (l_shipmode/l_commitdate/l_receiptdate, c_phone, p_container,
ps_supplycost), so the classic Q2/Q7-Q9/Q11-Q13/Q15-Q17/Q19/Q21/Q22 are
re-targeted at the columns that exist. What each query *exercises* —
the plan shape Catalyst must get right at 100 TB — is preserved:

- q7/q8/q9: multi-way star joins with the same dimension joined twice
  under different roles (supplier-nation vs customer-nation), CASE-based
  conditional aggregation, year bucketing.
- q13: LEFT join with an extra non-key predicate inside the join
  condition, then aggregation-of-an-aggregation.
- q15: aggregate view joined back against its own global max (scalar
  subquery → broadcast 1-row join in Spark).
- q17: correlated scalar subquery (per-part average) → decorrelated to
  an aggregate-then-join, the only formulation that scales.
- q19: disjunction of conjunctive predicate groups — pushdown must
  split the OR across the scan and the join stays a single equi-join.
- q21: EXISTS / NOT EXISTS with a non-equi correlate → left-semi +
  left-anti joins with composite conditions.
- q22: scalar aggregate subquery as a filter bound + NOT EXISTS anti
  join + substring-derived grouping key.
- q2: per-group argmin (cheapest unit price per part type) → window
  rank on the merge of part+lineitem, matched back equi-style.

Reference parity note: the reference app (EnrichmentApp.java:300-340)
only ever issues equi/theta joins and max-by reductions; this module is
the "generic SQL surface" breadth that any table engine implies
(SURVEY §2.4 note), checked line-by-line by the DuckDB oracle.

Float discipline: every float aggregate is ROUNDed identically on both
sides; every LIMIT carries a total tie-break order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.plans.registry import register


def _rev():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


@register(
    "tpch_q7_nation_volume",
    """
SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation,
         n2.n_name AS cust_nation,
         year(l.l_shipdate) AS l_year,
         l.l_extendedprice * (1 - l.l_discount) AS volume
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
  JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
  WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
      OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
""",
    doc="TPC-H Q7 (adapted nation names): bidirectional trade volume. "
    "nation joined twice under different roles; both nation sides and "
    "supplier/customer broadcast; the only shuffle is the final 3-key agg. "
    "Nation filter is pushed through both join branches before the "
    "lineitem fact join.",
    tags=("sql", "join", "agg"),
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, s, o, c, n = (
        table(spark, sf_dir, t)
        for t in ("lineitem", "supplier", "orders", "customer", "nation")
    )
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    pair = (
        ((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_8"))
        | ((F.col("supp_nation") == "NATION_8") & (F.col("cust_nation") == "NATION_3"))
    )
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .withColumn("l_year", F.year("l_shipdate"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.round(F.sum(_rev()), 2).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "tpch_q8_market_share",
    """
SELECT o_year,
       round(sum(CASE WHEN supp_nation = 'NATION_5' THEN volume ELSE 0 END)
             / sum(volume), 6) AS mkt_share
FROM (
  SELECT year(o.o_orderdate) AS o_year,
         l.l_extendedprice * (1 - l.l_discount) AS volume,
         n1.n_name AS supp_nation
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
  JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = n2.n_regionkey
  WHERE r.r_name = 'EUROPE' AND p.p_type = 'ECONOMY'
) all_nations
GROUP BY o_year
ORDER BY o_year
""",
    doc="TPC-H Q8 (adapted): national market share within a region = "
    "conditional-sum / sum ratio per year. 7-way star join where every "
    "dimension side is broadcast and the fact table never shuffles until "
    "the final 1-key aggregate; p_type filter prunes the part build side "
    "before broadcast.",
    tags=("sql", "join", "agg"),
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, p, s, o, c, n, r = (
        table(spark, sf_dir, t)
        for t in ("lineitem", "part", "supplier", "orders", "customer", "nation", "region")
    )
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_region"))
    return (
        li.join(F.broadcast(p.filter(F.col("p_type") == "ECONOMY")), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .join(F.broadcast(r.filter(F.col("r_name") == "EUROPE")), F.col("n2_region") == r.r_regionkey)
        .select(
            F.year("o_orderdate").alias("o_year"),
            _rev().alias("volume"),
            F.col("supp_nation"),
        )
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_5", F.col("volume")).otherwise(0.0))
                / F.sum("volume"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@register(
    "tpch_q9_product_profit",
    """
SELECT nation, o_year, round(sum(amount), 2) AS sum_profit
FROM (
  SELECT n.n_name AS nation,
         year(o.o_orderdate) AS o_year,
         l.l_extendedprice * (1 - l.l_discount)
           - 0.5 * p.p_retailprice * l.l_quantity AS amount
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  WHERE p.p_name LIKE '%red%'
) profit
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
""",
    doc="TPC-H Q9 (adapted: no partsupp, so supply cost is modeled as "
    "50% of p_retailprice): profit by supplier nation and order year for "
    "red parts. LIKE filter prunes the broadcast part side; profit "
    "expression stays in whole-stage codegen.",
    tags=("sql", "join", "agg"),
)
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, p, s, o, n = (
        table(spark, sf_dir, t)
        for t in ("lineitem", "part", "supplier", "orders", "nation")
    )
    return (
        li.join(F.broadcast(p.filter(F.col("p_name").like("%red%"))), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            (_rev() - 0.5 * F.col("p_retailprice") * F.col("l_quantity")).alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(F.round(F.sum("amount"), 2).alias("sum_profit"))
        .orderBy(F.col("nation").asc(), F.col("o_year").desc())
    )


@register(
    "tpch_q13_customer_distribution",
    """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c.c_custkey AS c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
    doc="TPC-H Q13 (adapted: priority predicate instead of the absent "
    "o_comment LIKE): order-count distribution. LEFT join keeps "
    "zero-order customers; the non-key predicate lives INSIDE the join "
    "condition (moving it to WHERE would silently turn the join inner). "
    "Aggregation-of-aggregation = two shuffles, the second tiny.",
    tags=("sql", "join", "agg"),
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    c, o = (table(spark, sf_dir, t) for t in ("customer", "orders"))
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy(c.c_custkey.alias("c_custkey"))
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@register(
    "tpch_q15_top_supplier",
    """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey AS s_suppkey, s.s_name AS s_name, r.total_revenue
FROM supplier s
JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s_suppkey
""",
    doc="TPC-H Q15: quarterly revenue view joined against its own global "
    "max. Spark formulation: aggregate once, broadcast the 1-row max as "
    "a cross join (scalar subquery), equi-match — the revenue agg is "
    "computed a single time and reused for both sides via an explicit "
    "plan (no self-recompute).",
    tags=("sql", "join", "agg", "subquery"),
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, s = (table(spark, sf_dir, t) for t in ("lineitem", "supplier"))
    revenue = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.round(F.sum(_rev()), 2).alias("total_revenue"))
    )
    mx = revenue.agg(F.max("total_revenue").alias("_max_rev"))
    return (
        revenue.join(F.broadcast(mx), F.col("total_revenue") == F.col("_max_rev"))
        .join(s, F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "tpch_q17_small_quantity_revenue",
    """
SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#23'
  AND l.l_quantity < (
    SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
    WHERE l2.l_partkey = p.p_partkey
  )
""",
    doc="TPC-H Q17: correlated scalar subquery (per-part 20%-of-average "
    "quantity bound). Spark formulation decorrelates: aggregate avg(qty) "
    "per partkey once, join it back, filter — the only shape that scales "
    "(the naive correlate is O(parts) rescans). Brand filter semi-prunes "
    "the avg input via a broadcast of filtered partkeys.",
    tags=("sql", "join", "subquery"),
)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, p = (table(spark, sf_dir, t) for t in ("lineitem", "part"))
    brand_parts = p.filter(F.col("p_brand") == "Brand#23").select("p_partkey")
    # Decorrelated: per-part average over ONLY the parts that survive the
    # brand filter (semi-join prune before the big agg).
    avg_qty = (
        li.join(F.broadcast(brand_parts), li.l_partkey == F.col("p_partkey"), "left_semi")
        .groupBy(F.col("l_partkey").alias("_avg_partkey"))
        .agg((0.2 * F.avg("l_quantity")).alias("_qty_bound"))
    )
    return (
        li.join(F.broadcast(brand_parts), li.l_partkey == F.col("p_partkey"), "left_semi")
        .join(F.broadcast(avg_qty), li.l_partkey == F.col("_avg_partkey"))
        .filter(F.col("l_quantity") < F.col("_qty_bound"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@register(
    "tpch_q19_disjunctive_revenue",
    """
SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity >= 1 AND l.l_quantity <= 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
       AND l.l_quantity >= 10 AND l.l_quantity <= 20)
   OR (p.p_brand = 'Brand#5' AND p.p_size BETWEEN 1 AND 35
       AND l.l_quantity >= 20 AND l.l_quantity <= 30)
""",
    doc="TPC-H Q19 (adapted: no l_shipmode/p_container, brand+size+qty "
    "bands only): disjunction of conjunctive groups over a join. "
    "Catalyst splits the OR: part-only conjuncts (brand ∪ size) push to "
    "the part scan, lineitem-only (qty ∪) to the lineitem scan, and the "
    "join stays a plain equi-join with the residual OR as post-filter.",
    tags=("sql", "join", "pushdown"),
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, p = (table(spark, sf_dir, t) for t in ("lineitem", "part"))
    qty = F.col("l_quantity")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & (qty >= 1) & (qty <= 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & (qty >= 10) & (qty <= 20)
        )
        | (
            (F.col("p_brand") == "Brand#5")
            & F.col("p_size").between(1, 35)
            & (qty >= 20) & (qty <= 30)
        )
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(F.round(F.sum(_rev()), 2).alias("revenue"))
    )


@register(
    "tpch_q21_waiting_supplier",
    """
SELECT s.s_name AS s_name, count(*) AS numwait
FROM supplier s
JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
JOIN orders o ON o.o_orderkey = l1.l_orderkey
WHERE o.o_orderstatus = 'F'
  AND l1.l_returnflag = 'R'
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_returnflag = 'R'
  )
GROUP BY s.s_name
ORDER BY numwait DESC, s_name
LIMIT 20
""",
    doc="TPC-H Q21 (adapted: l_returnflag='R' plays the late-delivery "
    "role of the absent l_receiptdate>l_commitdate): the only supplier "
    "at fault in a multi-supplier order. EXISTS → left-semi join, NOT "
    "EXISTS → left-anti join, both with a non-equi residual "
    "(l2.suppkey <> l1.suppkey) on top of the orderkey equi-key — "
    "shuffles hash on l_orderkey so both correlates co-locate.",
    tags=("sql", "join", "subquery", "topn"),
)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, s, o = (table(spark, sf_dir, t) for t in ("lineitem", "supplier", "orders"))
    l1 = li.alias("l1")
    l2 = li.select(F.col("l_orderkey").alias("l2_okey"), F.col("l_suppkey").alias("l2_skey"))
    l3 = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("l3_okey"), F.col("l_suppkey").alias("l3_skey")
    )
    base = (
        l1.filter(F.col("l_returnflag") == "R")
        .join(o.filter(F.col("o_orderstatus") == "F"), F.col("l1.l_orderkey") == o.o_orderkey)
        .join(
            l2,
            (F.col("l1.l_orderkey") == F.col("l2_okey"))
            & (F.col("l1.l_suppkey") != F.col("l2_skey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l1.l_orderkey") == F.col("l3_okey"))
            & (F.col("l1.l_suppkey") != F.col("l3_skey")),
            "left_anti",
        )
    )
    return (
        base.join(F.broadcast(s), F.col("l1.l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(20)
    )


@register(
    "tpch_q22_global_sales_opportunity",
    """
SELECT cntrycode, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
FROM (
  SELECT substring(c.c_name, 10, 2) AS cntrycode, c.c_acctbal AS c_acctbal
  FROM customer c
  WHERE c.c_acctbal > (
      SELECT avg(c2.c_acctbal) FROM customer c2 WHERE c2.c_acctbal > 0.0
    )
    AND NOT EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderpriority = '1-URGENT')
) custsale
GROUP BY cntrycode
ORDER BY cntrycode
""",
    doc="TPC-H Q22 (adapted: country code = digits 10-11 of c_name since "
    "c_phone is absent): above-average-balance customers with no orders. "
    "(every customer in this data has orders, so the anti-join excludes "
    "customers with URGENT orders instead). "
    "Scalar aggregate subquery → broadcast 1-row cross join; NOT EXISTS "
    "→ left-anti join on o_custkey (anti side needs only the key column "
    "— pruned before shuffle).",
    tags=("sql", "join", "subquery"),
)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    c, o = (table(spark, sf_dir, t) for t in ("customer", "orders"))
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(F.avg("c_acctbal").alias("_avg_bal"))
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(
            o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey"),
            c.c_custkey == F.col("o_custkey"),
            "left_anti",
        )
        .select(F.substring("c_name", 10, 2).alias("cntrycode"), "c_acctbal")
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


@register(
    "tpch_q2_min_unit_price",
    """
SELECT t.p_type AS p_type, t.p_partkey AS p_partkey, s.s_name AS s_name,
       t.unit_price AS unit_price
FROM (
  SELECT p.p_type, p.p_partkey, l.l_suppkey,
         l.l_extendedprice / l.l_quantity AS unit_price,
         row_number() OVER (
           PARTITION BY p.p_type
           ORDER BY l.l_extendedprice / l.l_quantity ASC,
                    p.p_partkey ASC, l.l_suppkey ASC, l.l_linenumber ASC
         ) AS rn
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  WHERE l.l_quantity > 0
) t
JOIN supplier s ON s.s_suppkey = t.l_suppkey
WHERE t.rn = 1
ORDER BY p_type
""",
    doc="TPC-H Q2 (adapted: no partsupp/ps_supplycost — 'cheapest "
    "supplier per part type' via observed lineitem unit price): "
    "per-group argmin as a rank-1 window with a total tie-break order; "
    "unit price left unrounded (division is order-independent, so both "
    "engines produce bit-identical doubles). "
    "Window partitions on low-cardinality p_type → single shuffle; the "
    "supplier join happens AFTER rank-1 filtering (6 rows, broadcast).",
    tags=("sql", "join", "window"),
)
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, p, s = (table(spark, sf_dir, t) for t in ("lineitem", "part", "supplier"))
    unit = F.col("l_extendedprice") / F.col("l_quantity")
    w = W.partitionBy("p_type").orderBy(
        F.col("unit_price").asc(),
        F.col("p_partkey").asc(),
        F.col("l_suppkey").asc(),
        F.col("l_linenumber").asc(),
    )
    ranked = (
        li.filter(F.col("l_quantity") > 0)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select("p_type", "p_partkey", "l_suppkey", "l_linenumber", unit.alias("unit_price"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return (
        ranked.join(F.broadcast(s), ranked.l_suppkey == s.s_suppkey)
        .select("p_type", "p_partkey", "s_name", "unit_price")
        .orderBy("p_type")
    )


@register(
    "tpch_q12_priority_by_returnflag",
    """
SELECT l.l_returnflag AS l_returnflag,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l.l_returnflag
ORDER BY l_returnflag
""",
    doc="TPC-H Q12 (adapted: group by l_returnflag since l_shipmode is "
    "absent): priority-class conditional counts. Date range pushes to "
    "the lineitem scan (PushedFilters on l_shipdate); orders side is "
    "reduced to (o_orderkey, o_orderpriority) before the shuffle join.",
    tags=("sql", "join", "agg"),
)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, o = (table(spark, sf_dir, t) for t in ("lineitem", "orders"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        )
        .join(o.select("o_orderkey", "o_orderpriority"), li.l_orderkey == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "tpch_q11_important_parts",
    """
WITH part_rev AS (
  SELECT l_partkey,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS part_revenue
  FROM lineitem
  GROUP BY l_partkey
)
SELECT l_partkey, part_revenue
FROM part_rev
WHERE part_revenue > (SELECT avg(part_revenue) * 1.5 FROM part_rev)
ORDER BY part_revenue DESC, l_partkey
""",
    doc="TPC-H Q11 (adapted: revenue concentration instead of the "
    "absent partsupp stock value): parts above 1.5x the average "
    "per-part revenue (scale-invariant threshold) — HAVING against a scalar subquery over the SAME "
    "aggregate. Spark computes part_rev once; the total is a broadcast "
    "1-row reaggregation of the (small) per-part result, not a second "
    "lineitem scan.",
    tags=("sql", "agg", "subquery"),
)
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    part_rev = (
        li.groupBy("l_partkey")
        .agg(F.round(F.sum(_rev()), 2).alias("part_revenue"))
    )
    total = part_rev.agg((F.avg("part_revenue") * 1.5).alias("_threshold"))
    return (
        part_rev.join(F.broadcast(total))
        .filter(F.col("part_revenue") > F.col("_threshold"))
        .select("l_partkey", "part_revenue")
        .orderBy(F.col("part_revenue").desc(), F.col("l_partkey").asc())
    )


@register(
    "tpch_q16_part_supplier_counts",
    """
SELECT p.p_brand AS p_brand, p.p_type AS p_type, p.p_size AS p_size,
       count(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#1'
  AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
  AND l.l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
  )
GROUP BY p.p_brand, p.p_type, p.p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
""",
    doc="TPC-H Q16 (adapted: lineitem as the part-supplier link since "
    "partsupp is absent; negative-balance suppliers play the "
    "complaints exclusion): distinct-supplier counts per part class "
    "with a NOT IN anti-join. The NOT IN subquery is null-free by "
    "construction (s_suppkey is a key), so anti-join semantics are "
    "safe; the distinct-agg shuffles on the 3 group keys + suppkey "
    "then collapses.",
    tags=("sql", "agg", "subquery"),
)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, p, s = (table(spark, sf_dir, t) for t in ("lineitem", "part", "supplier"))
    bad = s.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(
            F.broadcast(
                p.filter(
                    (F.col("p_brand") != "Brand#1")
                    & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
                )
            ),
            li.l_partkey == p.p_partkey,
        )
        .join(F.broadcast(bad), li.l_suppkey == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(),
            F.col("p_brand").asc(),
            F.col("p_type").asc(),
            F.col("p_size").asc(),
        )
    )


@register(
    "tpch_q20_excess_suppliers",
    """
SELECT s.s_name AS s_name, round(s.s_acctbal, 2) AS s_acctbal
FROM supplier s
WHERE s.s_suppkey IN (
  SELECT l_suppkey FROM lineitem
  JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE 'red%'
    AND l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1999-01-01 00:00:00'
  GROUP BY l_suppkey
  HAVING sum(l_quantity) > 50
)
ORDER BY s_name
""",
    doc="TPC-H Q20 (adapted: shipped-quantity threshold instead of the "
    "absent partsupp availqty comparison): suppliers who moved > 50 "
    "units of red parts in 1998. IN-subquery with GROUP BY + HAVING → "
    "aggregate then left-semi join; the part filter broadcasts into "
    "the lineitem scan before aggregation.",
    tags=("sql", "subquery", "semi"),
)
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, p, s = (table(spark, sf_dir, t) for t in ("lineitem", "part", "supplier"))
    heavy = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp_ntz"))
        )
        .join(F.broadcast(p.filter(F.col("p_name").like("red%"))), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("_qty"))
        .filter(F.col("_qty") > 50)
        .select("l_suppkey")
    )
    return (
        s.join(F.broadcast(heavy), s.s_suppkey == F.col("l_suppkey"), "left_semi")
        .select("s_name", F.round("s_acctbal", 2).alias("s_acctbal"))
        .orderBy("s_name")
    )


@register(
    "dq_checks_star_schema",
    """
SELECT 'orphan_lineitems' AS check_name,
       (SELECT count(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
       ) AS violations
UNION ALL
SELECT 'orphan_orders',
       (SELECT count(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
UNION ALL
SELECT 'dup_orderkeys',
       (SELECT count(*) FROM
         (SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING count(*) > 1))
UNION ALL
SELECT 'null_shipdates',
       (SELECT count(*) FROM lineitem WHERE l_shipdate IS NULL)
UNION ALL
SELECT 'negative_prices',
       (SELECT count(*) FROM lineitem WHERE l_extendedprice < 0)
""",
    doc="Data-quality audit as a query: referential integrity "
    "(anti-join orphan counts), key uniqueness, null/negative scans — "
    "the validation pass a 100 TB ingest runs before publishing a "
    "snapshot. Each check is one aggregated subplan; Spark unions five "
    "1-row aggregates, each independently optimized (anti-joins "
    "broadcast the key side).",
    tags=("dq", "audit"),
)
def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, o, c = (table(spark, sf_dir, t) for t in ("lineitem", "orders", "customer"))

    def one(name: str, cnt_df: DataFrame) -> DataFrame:
        return cnt_df.select(F.lit(name).alias("check_name"), F.col("violations"))

    orphan_li = (
        li.join(o.select("o_orderkey"), li.l_orderkey == F.col("o_orderkey"), "left_anti")
        .agg(F.count(F.lit(1)).alias("violations"))
    )
    orphan_o = (
        o.join(c.select("c_custkey"), o.o_custkey == F.col("c_custkey"), "left_anti")
        .agg(F.count(F.lit(1)).alias("violations"))
    )
    dup_keys = (
        o.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .agg(F.count(F.lit(1)).alias("violations"))
    )
    null_ship = li.filter(F.col("l_shipdate").isNull()).agg(
        F.count(F.lit(1)).alias("violations")
    )
    neg_price = li.filter(F.col("l_extendedprice") < 0).agg(
        F.count(F.lit(1)).alias("violations")
    )
    return (
        one("orphan_lineitems", orphan_li)
        .unionByName(one("orphan_orders", orphan_o))
        .unionByName(one("dup_orderkeys", dup_keys))
        .unionByName(one("null_shipdates", null_ship))
        .unionByName(one("negative_prices", neg_price))
    )
