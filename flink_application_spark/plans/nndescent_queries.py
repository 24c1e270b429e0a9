"""NN-Descent kNN-graph queries — round 9: all three converted
rows-only → oracle-EXACT on the exact-integer recipe
(`operators/nndescent_exact.py`): ppm-quantized vectors, exact BIGINT
d² edge scores (order-free — no fold-order pinning needed), md5-ring
init, (d2 ASC, nbr ASC) tie-breaks, and a FIXED round count that
unrolls the whole neighbor-of-neighbor loop as MATERIALIZED CTE
stages in DuckDB — the one NN-Descent core. Its oracle parity, the
clustered-corpus recall contract and the never-re-score spy are pinned
by tests/test_nndescent_exact.py; tests/test_oracle_parity.py
hash-checks all three queries.

The recall readout publishes the measured number on the driver's
isotropic random embeddings — the hard regime, not a cherry-pick
(same honesty discipline as doc_lsh_recall_audit), and now the entire
comparison (approximate graph AND quadratic exact baseline) replays
in the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_application_spark.operators.nndescent_exact import (
    knn_graph_exact_int,
    nn_descent_exact_oracle_sql,
)
from flink_application_spark.plans._memo import (
    nn_descent_graph_cached,
    nonnull_embeddings,
)
from flink_application_spark.plans.registry import register

_K = 6
_ITERS = 3


@register(
    "emb_knn_graph_nndescent",
    nn_descent_exact_oracle_sql("graph", k=_K, n_iter=_ITERS),
    doc="Approximate all-points kNN graph via NN-Descent (Dong et "
    "al., WWW'11): k=6 neighbors per vector after 3 neighbor-of-"
    "neighbor rounds, every round only equi-joins + windows "
    "(candidates ≤ n·(2k)² pairs; embeddings touched only by the "
    "candidate scoring join). Round 9: oracle-EXACT — ppm-integer d² "
    "edge scores and the fixed round count unroll ring init, "
    "candidate generation, scored-ever anti-joins and top-k merges "
    "as MATERIALIZED CTE stages (operators/nndescent_exact.py). The "
    "graph substrate for SemDeDup, label-noise audits and graph-ANN "
    "serving at 100 TB, where the O(n²) exact graph is unbuildable.",
    tags=("embeddings", "similarity", "knn-graph", "ann", "iterative", "exact"),
)
def q_knn_graph_nndescent(spark: SparkSession, sf_dir: str) -> DataFrame:
    g, _ = nn_descent_graph_cached(
        spark, nonnull_embeddings(spark, sf_dir), sf_dir, _K, _ITERS
    )
    return g.select("vec_id", "nbr_id", "d2", "rank")


@register(
    "emb_knn_graph_recall",
    nn_descent_exact_oracle_sql("recall", k=_K, n_iter=_ITERS),
    doc="Recall readout of the NN-Descent graph against the exact "
    "integer kNN graph on the same corpus — one row: vertex count, "
    "edge count, matched edges, recall in integer ppm. Round 9: "
    "oracle-EXACT — both sides of the comparison replay (the "
    "approximate graph via the unrolled loop, the exact baseline via "
    "the INTENTIONALLY_QUADRATIC gate-scale cross join; the Spark "
    "exact side is the two-phase Arrow int64 partial-top-k scan). "
    "The published number for the hard isotropic regime; the "
    "clustered-data recall contract lives in tests/test_nndescent_exact.py.",
    tags=("embeddings", "similarity", "knn-graph", "ann", "audit", "exact"),
)
def q_knn_graph_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = nonnull_embeddings(spark, sf_dir)
    g, _ = nn_descent_graph_cached(spark, emb, sf_dir, _K, _ITERS)
    approx = g.select("vec_id", "nbr_id")
    exact = knn_graph_exact_int(emb, k=_K).select("vec_id", "nbr_id")
    hit = approx.join(exact, ["vec_id", "nbr_id"], "left_semi")
    return (
        exact.agg(
            F.count(F.lit(1)).alias("exact_edges"),
            F.countDistinct("vec_id").alias("n_vertices"),
        )
        .crossJoin(hit.agg(F.count(F.lit(1)).alias("matched_edges")))
        .select(
            "n_vertices",
            "exact_edges",
            "matched_edges",
            F.expr("matched_edges * 1000000L div exact_edges").alias("recall_ppm"),
        )
    )


@register(
    "emb_nn_descent_convergence",
    nn_descent_exact_oracle_sql("profile", k=_K, n_iter=_ITERS),
    doc="NN-Descent convergence profile: per round, how many edges "
    "entered a top-k list and the exact BIGINT sum of kept d². "
    "new_edges shrinking toward 0 is the paper's termination signal "
    "(WWW'11 §3.2); kept_d2_sum is non-increasing because every "
    "vertex's kept set only improves. Round 9: oracle-EXACT — the "
    "per-round readout replays from the same unrolled stages as the "
    "graph query (one ANTI JOIN + one sum per round).",
    tags=("embeddings", "similarity", "knn-graph", "iterative", "audit", "exact"),
)
def q_nn_descent_convergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, prof = nn_descent_graph_cached(
        spark, nonnull_embeddings(spark, sf_dir), sf_dir, _K, _ITERS
    )
    return spark.createDataFrame(
        prof, "iteration int, new_edges bigint, kept_d2_sum bigint"
    )
