"""Recursive CTE surface (Spark 4's WITH RECURSIVE — the iterative
query form everything from hierarchies to graph reachability uses;
Flink exposes no equivalent, so this is engine-forward SQL breadth).

The hierarchy is synthesized arithmetically (parent(k) = k ÷ 2 — a
binary tree over customer keys) so the recursion is a pure DAG: Spark's
recursive CTEs support UNION ALL only (no cycle-collapsing UNION yet,
pinned in the test), which makes acyclicity the caller's contract —
exactly what this query documents and the DuckDB oracle reproduces.

Each recursive step is one self-join micro-batch under the hood — the
declarative twin of the hand-rolled loops in `operators/components.py`
(driver-orchestrated min-label propagation) and
`operators/graph_exact.py` (PageRank); those remain the scale path for
cyclic graphs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from flink_application_spark.catalog import table
from flink_application_spark.plans.registry import register


@register(
    "customer_tree_depth_recursive_cte",
    """
WITH RECURSIVE walk(custkey, cur, depth) AS (
  SELECT c_custkey, c_custkey, 0 FROM customer
  UNION ALL
  SELECT custkey, cur // 2, depth + 1 FROM walk WHERE cur > 1
)
SELECT custkey,
       CAST(max(depth) AS BIGINT) AS depth_to_root,
       CAST(sum(cur) AS BIGINT) AS path_key_sum
FROM walk GROUP BY custkey
""",
    doc="Recursive-CTE hierarchy walk: every customer ascends the "
    "synthetic binary tree (parent = key ÷ 2) to the root, emitting "
    "depth and the sum of keys on the path — the WITH RECURSIVE "
    "surface (Spark 4) with a DuckDB oracle running the identical "
    "recursion. DAG-only by contract: Spark recursion is UNION ALL.",
    tags=("customer", "sql-surface", "recursive"),
)
def q_recursive_tree_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "customer")
    return spark.sql(
        """
WITH RECURSIVE walk(custkey, cur, depth) AS (
  SELECT c_custkey, c_custkey, 0 FROM customer
  UNION ALL
  SELECT custkey, cur DIV 2, depth + 1 FROM walk WHERE cur > 1
)
SELECT custkey,
       CAST(max(depth) AS BIGINT) AS depth_to_root,
       CAST(sum(cur) AS BIGINT) AS path_key_sum
FROM walk GROUP BY custkey
"""
    )
