"""Graph-deletion queries (operators/graph_delete.py) — the fourth
leg of the kNN-graph lifecycle: NN-Descent BUILDS
(emb_knn_graph_nndescent), beam search SERVES
(emb_graph_ann_search_topk), insertion GROWS
(emb_graph_ann_insert_graph), deletion SHRINKS with local repair and
no rebuild. With these two queries the graph supports the full
online CRUD cycle, every step oracle-exact.

The demonstration deletes the corpus's 4 largest vec_ids from the
full-corpus graph (the SAME memoized NN-Descent build the serving
queries search — the delete pair adds zero training cost to a driver
window) and repairs the vertices that lost neighbors via beam search
over the pruned graph. Both queries replay bit-for-bit in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_application_spark.operators.graph_ann import graph_ann_search_topk
from flink_application_spark.operators.graph_delete import graph_delete_oracle_sql
from flink_application_spark.plans._memo import (
    graph_delete_repaired_cached,
    nonnull_embeddings,
)
from flink_application_spark.plans.registry import register

_K = 6
_BEAM = 8
_HOPS = 2  # repair-time beam hops (search-time hops stay 3 below)
_N_DELETE = 4
_GRAPH_ITERS = 3  # same key as the serving queries' memoized build
_SEARCH_K = 6
_SEARCH_BEAM = 8
_SEARCH_HOPS = 3
_NQ = 5


def _repaired(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = nonnull_embeddings(spark, sf_dir)
    return graph_delete_repaired_cached(
        spark,
        emb,
        sf_dir,
        k=_K,
        beam=_BEAM,
        hops=_HOPS,
        n_delete=_N_DELETE,
        graph_iters=_GRAPH_ITERS,
    )


@register(
    "emb_graph_ann_delete_graph",
    graph_delete_oracle_sql(
        "graph",
        k=_K,
        beam=_BEAM,
        hops=_HOPS,
        n_delete=_N_DELETE,
        graph_iters=_GRAPH_ITERS,
    ),
    doc="kNN-graph DELETION with local repair (the hnswlib/FAISS "
    "mark-deleted discipline plus the repair pass): drop the 4 "
    "largest vec_ids' rows and in-edges from the exact NN-Descent "
    "graph, then every vertex that lost a neighbor beam-searches the "
    "PRUNED graph (beam=8, 2 hops, deleted ids unscorable) and "
    "re-fills to top-6 from surviving ∪ found candidates; the "
    "back-link half then proposes each repaired vertex to its new "
    "neighbors and re-prunes those lists (restores IN-degree — the "
    "repaired region stays reachable); untouched vertices keep their "
    "edges. At scale: the affected set is ≤ |D|·k in-neighbors found "
    "by ids-only anti-joins, repair touches |A|·beam·(k+1) candidates "
    "per hop, the back-link adds one reversed equi-join + window — no "
    "rebuild, corpus never scanned.",
    tags=("embeddings", "similarity", "ann", "knn-graph", "maintenance", "exact"),
)
def q_graph_ann_delete_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _repaired(spark, sf_dir)


@register(
    "emb_graph_ann_delete_search",
    graph_delete_oracle_sql(
        "search",
        k=_K,
        beam=_BEAM,
        hops=_HOPS,
        n_delete=_N_DELETE,
        graph_iters=_GRAPH_ITERS,
        search_k=_SEARCH_K,
        search_beam=_SEARCH_BEAM,
        search_hops=_SEARCH_HOPS,
        n_queries=_NQ,
    ),
    doc="Serving over the post-DELETE repaired graph: the standard "
    "beam search (beam=8, 3 hops, first 5 query vectors) runs against "
    "the repaired adjacency — deleted vertices can never be returned "
    "(their coordinates are gone from the candidate join), and the "
    "repair keeps the survivors reachable. Whole chain (full build → "
    "prune → repair → search) replays as one MATERIALIZED CTE "
    "pipeline in DuckDB.",
    tags=("embeddings", "similarity", "ann", "knn-graph", "maintenance",
          "serving", "exact"),
)
def q_graph_ann_delete_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = nonnull_embeddings(spark, sf_dir)
    g = _repaired(spark, sf_dir)
    # exclude the deleted ids from the search corpus: coords of
    # deleted vertices must not score (they are gone). The operator's
    # contract already guarantees the graph has no deleted srcs/dsts;
    # filtering the vector frame makes the query side match.
    dels = [
        r["vec_id"]
        for r in emb.orderBy(F.col("vec_id").desc()).limit(_N_DELETE).collect()
    ]
    return graph_ann_search_topk(
        emb.filter(~F.col("vec_id").isin([int(i) for i in dels])),
        k=_SEARCH_K,
        beam=_SEARCH_BEAM,
        hops=_SEARCH_HOPS,
        n_queries=_NQ,
        graph=g,
    )
