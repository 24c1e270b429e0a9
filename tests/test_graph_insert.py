"""Incremental kNN-graph maintenance (operators/graph_insert.py,
operators/graph_delete.py).

Oracle parity for the registered queries is the oracle harness's
job (tests/test_oracle_parity.py runs them like everything else);
here we pin the OPERATOR contracts: inserted vertices are fully
wired (k out-edges each, back-links present), and delete repair
prunes deleted ids, re-fills every survivor to k edges and keeps
untouched vertices' rows."""

from __future__ import annotations

import pytest as _pytest_tier

pytestmark = _pytest_tier.mark.slow  # e2e store tests — slow tier

from pyspark.sql import functions as F

from flink_application_spark.catalog import table
from flink_application_spark.operators.graph_insert import graph_insert_waves

_K, _BEAM, _HOPS, _NI, _NW = 6, 8, 2, 4, 2


def _emb(spark, sf_dir):
    return table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())


def _split(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    ins_ids = sorted(
        r["vec_id"]
        for r in emb.orderBy(F.col("vec_id").desc()).limit(_NI).collect()
    )
    base = emb.filter(~F.col("vec_id").isin([int(i) for i in ins_ids]))
    return emb, base, ins_ids


def test_inserted_vertices_fully_wired(spark, sf_dir):
    emb, _, ins_ids = _split(spark, sf_dir)
    g = graph_insert_waves(
        emb, k=_K, beam=_BEAM, hops=_HOPS, n_insert=_NI, n_waves=_NW
    ).persist()
    n = emb.count()
    assert g.count() == n * _K  # every vertex, old and new, has k edges
    out_deg = {
        r["vec_id"]: r["c"]
        for r in g.filter(F.col("vec_id").isin([int(i) for i in ins_ids]))
        .groupBy("vec_id")
        .agg(F.count("*").alias("c"))
        .collect()
    }
    assert out_deg == {i: _K for i in ins_ids}  # k out-edges each
    # back-links: every inserted vertex is someone's neighbor
    indeg = (
        g.filter(F.col("nbr_id").isin([int(i) for i in ins_ids]))
        .groupBy("nbr_id")
        .count()
        .count()
    )
    assert indeg == _NI
    g.unpersist()


def test_delete_prunes_and_repairs(spark, sf_dir):
    """graph_delete contracts (backlink=False — the pure local-repair
    stage): deleted ids vanish from BOTH edge endpoints, every
    affected vertex re-fills to k out-edges, and vertices that never
    touched a deleted id keep their exact edge set (the local-repair
    locality claim). The default back-link half is pinned separately
    in test_delete_backlink_restores_in_edges."""
    from flink_application_spark.operators.graph_delete import graph_delete_largest
    from flink_application_spark.operators.nndescent_exact import nn_descent_exact

    emb = _emb(spark, sf_dir)
    dels = sorted(
        r["vec_id"]
        for r in emb.orderBy(F.col("vec_id").desc()).limit(_NI).collect()
    )
    base = nn_descent_exact(emb, k=_K, n_iter=3).persist()
    repaired = graph_delete_largest(
        emb, k=_K, beam=_BEAM, hops=_HOPS, n_delete=_NI, base_graph=base,
        backlink=False,
    ).persist()
    n = emb.count()
    # deleted ids gone from both endpoints; every survivor has k edges
    assert repaired.filter(
        F.col("vec_id").isin(dels) | F.col("nbr_id").isin(dels)
    ).count() == 0
    assert repaired.count() == (n - _NI) * _K
    # locality: vertices with no edge to a deleted id keep their rows
    affected = {
        r["vec_id"]
        for r in base.filter(F.col("nbr_id").isin(dels)).select("vec_id").collect()
    } | set(dels)
    aff = [int(i) for i in affected]
    before = sorted(
        tuple(r)
        for r in base.filter(~F.col("vec_id").isin(aff))
        .select("vec_id", "nbr_id", "d2", "rank")
        .collect()
    )
    after = sorted(
        tuple(r)
        for r in repaired.filter(~F.col("vec_id").isin(aff))
        .select("vec_id", "nbr_id", "d2", "rank")
        .collect()
    )
    assert before == after
    base.unpersist()
    repaired.unpersist()


def test_delete_backlink_restores_in_edges(spark, sf_dir):
    """Round-10 verdict item 4 — the back-link half of delete repair:
    after the out-degree re-fill, every repaired vertex proposes
    itself to its post-repair neighbors and those lists re-prune.
    Contracts: (a) CONNECTIVITY — every repaired vertex has >=1
    in-edge in the final graph (pure local repair leaves the repaired
    region pointed-at by nobody new); (b) out-degree stays exactly k
    for every survivor; (c) vertices receiving NO proposal keep their
    exact rows vs the backlink-free graph."""
    from flink_application_spark.operators.graph_delete import graph_delete_largest
    from flink_application_spark.operators.nndescent_exact import nn_descent_exact

    emb = _emb(spark, sf_dir)
    dels = sorted(
        r["vec_id"]
        for r in emb.orderBy(F.col("vec_id").desc()).limit(_NI).collect()
    )
    base = nn_descent_exact(emb, k=_K, n_iter=3).persist()
    g0 = graph_delete_largest(  # out-degree-only repair
        emb, k=_K, beam=_BEAM, hops=_HOPS, n_delete=_NI, base_graph=base,
        backlink=False,
    ).persist()
    g1 = graph_delete_largest(  # default: with back-links
        emb, k=_K, beam=_BEAM, hops=_HOPS, n_delete=_NI, base_graph=base,
    ).persist()
    n = emb.count()
    repaired = sorted(
        r["vec_id"]
        for r in base.filter(F.col("nbr_id").isin(dels))
        .filter(~F.col("vec_id").isin(dels))
        .select("vec_id")
        .distinct()
        .collect()
    )
    # (a) connectivity: every repaired vertex is pointed at
    in_deg = {
        r["nbr_id"]
        for r in g1.filter(F.col("nbr_id").isin([int(i) for i in repaired]))
        .select("nbr_id")
        .distinct()
        .collect()
    }
    assert in_deg == set(repaired)
    # (b) degree + size invariants unchanged by the back-link pass
    assert g1.count() == (n - _NI) * _K
    assert (
        g1.groupBy("vec_id").count().filter(F.col("count") != _K).count() == 0
    )
    assert g1.filter(
        F.col("vec_id").isin(dels) | F.col("nbr_id").isin(dels)
    ).count() == 0
    # (c) locality of the back-link pass: only proposal receivers
    # (dsts of repaired vertices' post-repair edges) can change
    receivers = [
        int(r["nbr_id"])
        for r in g0.filter(F.col("vec_id").isin([int(i) for i in repaired]))
        .select("nbr_id")
        .distinct()
        .collect()
    ]
    outside0 = sorted(
        tuple(r)
        for r in g0.filter(~F.col("vec_id").isin(receivers))
        .select("vec_id", "nbr_id", "d2", "rank")
        .collect()
    )
    outside1 = sorted(
        tuple(r)
        for r in g1.filter(~F.col("vec_id").isin(receivers))
        .select("vec_id", "nbr_id", "d2", "rank")
        .collect()
    )
    assert outside0 == outside1
    base.unpersist()
    g0.unpersist()
    g1.unpersist()
