"""Graph-centrality queries over the near-dup similarity graph.

PageRank on the verified LSH pair graph ranks each document by how
central it is to its duplication neighborhood — the most-connected
member of a boilerplate family is the best canonical representative
(and the strongest removal signal for the rest). Composes the existing
near-dup machinery (`verified_near_dup_pairs`) with the exact-integer
`operators/graph_exact.py:pagerank_exact` loop, whose rounds DuckDB
replays as MATERIALIZED CTE stages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.operators.minhash import verified_near_dup_pairs
from flink_application_spark.plans.dedup_queries import NEAR_DUP_THRESHOLD
from flink_application_spark.plans.registry import register


# PageRank rounds, run by the query and replayed by its oracle
ROUNDS = 15


def _pagerank_exact_oracle() -> str:
    from flink_application_spark.operators.graph_exact import (
        pagerank_exact_oracle_sql,
    )
    from flink_application_spark.plans.dedup_queries import (
        JACCARD_SQL,
        SHINGLES_CTE,
        _pairs_cte,
        _sigs_cte,
    )

    edge_cte = (
        SHINGLES_CTE
        + ","
        + _sigs_cte()
        + ","
        + _pairs_cte()
        + f""",
edges AS (
  SELECT p.id_a, p.id_b
  FROM pairs p
  JOIN sh sa ON sa.doc_id = p.id_a
  JOIN sh sb ON sb.doc_id = p.id_b
  WHERE {JACCARD_SQL} >= {NEAR_DUP_THRESHOLD}
)"""
    )
    return "WITH " + pagerank_exact_oracle_sql(edge_cte, iters=ROUNDS)


def _near_dup_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_application_spark.plans._memo import near_dup_pairs_cached

    docs = table(spark, sf_dir, "documents")
    # gate-only consumer of the shared pair memo (round-11 verdict
    # item 7); the pagerank loop itself stays per-call
    pairs = near_dup_pairs_cached(spark, docs, sf_dir, NEAR_DUP_THRESHOLD)
    return pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))


@register(
    "doc_simgraph_pagerank",
    # the integer ranks as a fraction of the 1e12 total: one IEEE
    # division of exact integers below 2^53 on both engines, so the
    # double hashes identically without a round()
    "SELECT doc_id, CAST(rank AS DOUBLE) / 1e12 AS rank FROM ("
    + _pagerank_exact_oracle()
    + ")",
    doc="PageRank over the verified near-dup pair graph (damping 0.85, "
    "15 rounds), rank as a fraction of unit mass: the exact-integer "
    "core (operators/graph_exact.py) divided by its 1e12 total. "
    "Per-round cost is one rank×edge join + one sum aggregate, "
    "lineage-truncated every third round. Ranks the canonical "
    "representative of each boilerplate family; Σ rank ≤ 1, short "
    "only by integer-truncation remainders.",
    tags=("documents", "graph", "dedup"),
)
def q_simgraph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_application_spark.operators.graph_exact import TOTAL, pagerank_exact

    pr = pagerank_exact(_near_dup_edges(spark, sf_dir), iters=ROUNDS)
    return pr.select(
        F.col("id").alias("doc_id"),
        (F.col("rank").cast("double") / F.lit(float(TOTAL))).alias("rank"),
    )


@register(
    "doc_simgraph_triangles",
    "WITH "
    + __import__(
        "flink_application_spark.plans.dedup_queries", fromlist=["SHINGLES_CTE"]
    ).SHINGLES_CTE
    + ","
    + __import__(
        "flink_application_spark.plans.dedup_queries", fromlist=["_sigs_cte"]
    )._sigs_cte()
    + ","
    + __import__(
        "flink_application_spark.plans.dedup_queries", fromlist=["_pairs_cte"]
    )._pairs_cte()
    + f"""
, edges AS (
  SELECT p.id_a, p.id_b
  FROM pairs p
  JOIN sh sa ON sa.doc_id = p.id_a
  JOIN sh sb ON sb.doc_id = p.id_b
  WHERE {__import__("flink_application_spark.plans.dedup_queries", fromlist=["JACCARD_SQL"]).JACCARD_SQL}
        >= {NEAR_DUP_THRESHOLD}
),
tri AS (
  SELECT count(*) AS n_triangles FROM edges e1
  JOIN edges e2 ON e2.id_a = e1.id_b
  JOIN edges e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
),
deg AS (
  SELECT node, count(*) AS d FROM (
    SELECT id_a AS node FROM edges UNION ALL SELECT id_b AS node FROM edges
  ) GROUP BY node
),
w AS (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges FROM deg)
SELECT CAST((SELECT count(*) FROM edges) AS BIGINT) AS n_edges,
       CAST(tri.n_triangles AS BIGINT) AS n_triangles,
       w.n_wedges AS n_wedges,
       CASE WHEN w.n_wedges > 0
            THEN CAST(tri.n_triangles AS BIGINT) * 3000000 // w.n_wedges
            ELSE 0 END AS clustering_ppm
FROM tri CROSS JOIN w
""",
    doc="Triangle census of the near-dup graph: triangle count via the "
    "ordered three-edge join (a<b<c once each), wedge count from "
    "degrees, global clustering coefficient in integer ppm — how "
    "CLIQUE-LIKE duplication families are (high = true boilerplate "
    "families, low = chain-like drift). Edge-linear joins on an "
    "already-blocked pair set; everything integer.",
    tags=("documents", "graph", "dedup"),
)
def q_simgraph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    edges = verified_near_dup_pairs(docs, threshold=NEAR_DUP_THRESHOLD).select(
        "id_a", "id_b"
    ).persist()
    e1 = edges.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    e2 = edges.select(F.col("id_a").alias("b"), F.col("id_b").alias("c"))
    e3 = edges.select(F.col("id_a").alias("a"), F.col("id_b").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"]).count()
    deg = (
        edges.select(F.col("id_a").alias("node"))
        .unionAll(edges.select(F.col("id_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    wedges = deg.agg(
        F.sum(F.expr("d * (d - 1) div 2")).cast("bigint").alias("w")
    ).collect()[0]["w"]
    n_edges = edges.count()
    edges.unpersist()
    spark2 = docs.sparkSession
    cl = (tri * 3_000_000) // wedges if wedges else 0
    return spark2.createDataFrame(
        [(n_edges, tri, int(wedges or 0), int(cl))],
        "n_edges bigint, n_triangles bigint, n_wedges bigint, clustering_ppm bigint",
    )
