"""Exact-integer PageRank — the oracle-replayable graph iteration.

A float PageRank cannot be hash-checked: each round sums float
contributions whose cross-partition order is engine-dependent. This
core runs the iteration in pure integer arithmetic (the round-7
determinism recipe applied to the graph blocker class):

- rank mass lives in integer units of `total` (default 1e12) — the
  seed is `total // n` per vertex;
- a round ships `rank // deg` along every (mirrored) edge — truncating
  integer division, identical in Spark's `div`, DuckDB's `//` and the
  nonnegative domain generally — and reduces exact integer sums
  (order-free under any partitioning);
- the damped update is `(15·total) // (100·n) + (85·inflow) // 100`
  (d = 0.85 as the rational 85/100) — every operation exact;
- the mirrored similarity graph has no dangling vertices, so the only
  mass deviation from the float form is truncation remainders
  (≤ 1 unit per edge per round ≈ 1e-12·E relative — invisible at
  rank granularity, and DETERMINISTIC, which is the point).

Output is the full final rank vector in integer units — every value
in the driver's hash; the DuckDB oracle unrolls the rounds as
MATERIALIZED CTE stages (`pagerank_exact_oracle_sql` takes the edge
CTE from the caller, so the near-dup graph query reuses the same
shingle/LSH/verify SQL its siblings already replay). `tests/
test_graph_exact.py` pins rank parity vs a Python integer reference,
agreement with a dense float numpy PageRank, and bit-determinism under
repartitioning. Consumers that want a fraction of unit mass divide by
`total` (`doc_simgraph_pagerank`): an exact integer below 2^53 over
1e12 is one correctly rounded IEEE quotient on every engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

TOTAL = 10**12
DAMP_PCT = 85


def pagerank_exact(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 12,
    total: int = TOTAL,
    undirected: bool = True,
) -> DataFrame:
    """(id, rank) in integer `total` units after `iters` exact rounds."""
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    if undirected:
        e = e.union(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
    e = e.distinct().persist()
    verts = (
        e.select(F.col("s").alias("id"))
        .union(e.select(F.col("d").alias("id")))
        .distinct()
        .persist()
    )
    n = verts.count()
    if n == 0:
        e.unpersist()
        verts.unpersist()
        return verts.withColumn("rank", F.lit(0).cast("bigint"))
    deg = e.groupBy(F.col("s").alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    base = ((100 - DAMP_PCT) * total) // (100 * n)  # nonneg: floor == trunc
    ranks = verts.withColumn("rank", F.lit(total // n).cast("bigint"))
    for it in range(iters):
        inflow = (
            ranks.join(deg, "id")
            .join(e, F.col("id") == F.col("s"))
            .select(F.col("d").alias("id"), F.expr("rank div deg").alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = verts.join(inflow, "id", "left").select(
            "id",
            (
                F.lit(base)
                + F.expr(f"({DAMP_PCT} * coalesce(inflow, 0L)) div 100")
            ).cast("bigint").alias("rank"),
        )
        if it % 3 == 2 or it == iters - 1:
            ranks = ranks.localCheckpoint()  # lineage bound only —
            # integer arithmetic is order-free, so no pinning is needed
            # for correctness here (unlike twophase.ranged_with_pid)
    e.unpersist()
    verts.unpersist()
    return ranks


def pagerank_exact_oracle_sql(
    edge_cte: str, iters: int = 12, total: int = TOTAL
) -> str:
    """WITH-body continuation: given `{edge_cte}` already defining
    edges(id_a, id_b), append the mirrored-graph integer PageRank and
    the final SELECT (doc_id, rank). Every stage AS MATERIALIZED —
    plain DuckDB CTEs inline and the unrolled chain would re-expand
    the edge derivation exponentially (the pca_exact lesson)."""
    parts = [
        """eu AS MATERIALIZED (
  SELECT id_a AS s, id_b AS d FROM edges
  UNION
  SELECT id_b AS s, id_a AS d FROM edges
)""",
        """verts AS MATERIALIZED (
  SELECT DISTINCT s AS id FROM (
    SELECT s FROM eu UNION ALL SELECT d AS s FROM eu)
)""",
        "nn AS MATERIALIZED (SELECT count(*) AS n FROM verts)",
        """dg AS MATERIALIZED (
  SELECT s AS id, count(*) AS deg FROM eu GROUP BY s
)""",
        f"""r0 AS MATERIALIZED (
  SELECT id, {total} // nn.n AS rank FROM verts, nn
)""",
    ]
    for t in range(1, iters + 1):
        parts.append(
            f"""i{t} AS MATERIALIZED (
  SELECT e.d AS id, CAST(sum(r.rank // g.deg) AS BIGINT) AS inflow
  FROM r{t - 1} r JOIN dg g USING (id) JOIN eu e ON e.s = r.id
  GROUP BY e.d
)""",
        )
        parts.append(
            f"""r{t} AS MATERIALIZED (
  SELECT v.id,
         ({100 - DAMP_PCT} * {total}) // (100 * nn.n)
           + ({DAMP_PCT} * COALESCE(i.inflow, 0)) // 100 AS rank
  FROM verts v CROSS JOIN nn LEFT JOIN i{t} i ON i.id = v.id
)""",
        )
    body = ",\n".join(parts)
    return (
        f"{edge_cte},\n{body}\n"
        f"SELECT id AS doc_id, CAST(rank AS BIGINT) AS rank FROM r{iters}"
    )
