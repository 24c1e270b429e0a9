"""Incremental graph-maintenance queries (operators/graph_insert.py)
— the round-10 capability completing the kNN-graph lifecycle:
NN-Descent BUILDS (emb_knn_graph_nndescent), beam search SERVES
(emb_graph_ann_search_topk), and these queries GROW the graph as new
vectors arrive — the HNSW layer-0 insert in micro-batch form, no
rebuild.

The demonstration split holds out the corpus's 4 largest vec_ids,
builds the base graph over the rest, then folds the held-out vectors
back in over 2 waves (ascending id; wave members search the frozen
pre-wave graph — what a streaming ingest folding one wave per
micro-batch would do).
Both queries replay bit-for-bit in DuckDB: base build + every wave's
beam chain + every re-prune unroll as MATERIALIZED CTE stages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from flink_application_spark.operators.graph_ann import graph_ann_search_topk
from flink_application_spark.operators.graph_insert import graph_insert_oracle_sql
from flink_application_spark.plans._memo import (
    graph_insert_updated_cached,
    nonnull_embeddings,
)
from flink_application_spark.plans.registry import register

_K = 6
_BEAM = 8
_HOPS = 2  # insert-time beam hops (search-time hops stay 3 below)
_N_INSERT = 4
_N_WAVES = 2
_GRAPH_ITERS = 3
_SEARCH_K = 6
_SEARCH_BEAM = 8
_SEARCH_HOPS = 3
_NQ = 5


def _updated(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = nonnull_embeddings(spark, sf_dir)
    return graph_insert_updated_cached(
        spark,
        emb,
        sf_dir,
        k=_K,
        beam=_BEAM,
        hops=_HOPS,
        n_insert=_N_INSERT,
        n_waves=_N_WAVES,
        graph_iters=_GRAPH_ITERS,
    )


@register(
    "emb_graph_ann_insert_graph",
    graph_insert_oracle_sql(
        "graph",
        k=_K,
        beam=_BEAM,
        hops=_HOPS,
        n_insert=_N_INSERT,
        n_waves=_N_WAVES,
        graph_iters=_GRAPH_ITERS,
    ),
    doc="Incremental kNN-graph INSERTION (HNSW layer-0 insert, "
    "micro-batch form): hold out the 4 largest vec_ids, NN-Descent "
    "the base graph, then fold the held-out vectors back in over 2 "
    "ascending-id waves — each wave beam-searches the frozen pre-wave "
    "graph (beam=8, 2 hops) for its neighborhood, takes the beam "
    "top-6 as out-edges, back-links, and every touched adjacency "
    "re-prunes to top-6 by (d2, dst). Output = the final full-corpus "
    "adjacency. At scale: per wave only |W|·beam·(k+1) candidates "
    "score per hop, state between waves is the ids-only edge frame — "
    "no rebuild, corpus never scanned.",
    tags=("embeddings", "similarity", "ann", "knn-graph", "maintenance", "exact"),
)
def q_graph_ann_insert_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _updated(spark, sf_dir)


@register(
    "emb_graph_ann_insert_search",
    graph_insert_oracle_sql(
        "search",
        k=_K,
        beam=_BEAM,
        hops=_HOPS,
        n_insert=_N_INSERT,
        n_waves=_N_WAVES,
        graph_iters=_GRAPH_ITERS,
        search_k=_SEARCH_K,
        search_beam=_SEARCH_BEAM,
        search_hops=_SEARCH_HOPS,
        n_queries=_NQ,
    ),
    doc="Serving over the INCREMENTALLY MAINTAINED graph: the "
    "standard graph-ANN beam search (beam=8, 3 hops, first 5 query "
    "vectors) runs against the post-insert adjacency — inserted "
    "vertices are reachable and can appear in answers, proving the "
    "maintenance path feeds the serving path with no rebuild between "
    "them. Whole chain (base build → 2 insert waves → search) "
    "replays as one MATERIALIZED CTE pipeline in DuckDB.",
    tags=("embeddings", "similarity", "ann", "knn-graph", "maintenance",
          "serving", "exact"),
)
def q_graph_ann_insert_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = nonnull_embeddings(spark, sf_dir)
    g = _updated(spark, sf_dir)
    return graph_ann_search_topk(
        emb,
        k=_SEARCH_K,
        beam=_SEARCH_BEAM,
        hops=_SEARCH_HOPS,
        n_queries=_NQ,
        graph=g,
    )
