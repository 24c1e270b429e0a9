"""Exact-integer PageRank (operators/graph_exact.py): parity with a
pure-Python integer reference, closeness to a dense float numpy
PageRank at equal rounds, bit-determinism under repartitioning,
empty-graph edge case."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from flink_application_spark.catalog import table
from flink_application_spark.operators.graph_exact import (
    DAMP_PCT,
    TOTAL,
    pagerank_exact,
)
from flink_application_spark.operators.minhash import verified_near_dup_pairs


def _edges(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    return verified_near_dup_pairs(docs, threshold=0.5).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )


def _py_reference(pairs: list[tuple[int, int]], iters: int) -> dict[int, int]:
    eu = set()
    for a, b in pairs:
        eu.add((a, b))
        eu.add((b, a))
    verts = sorted({v for e in eu for v in e})
    n = len(verts)
    deg: dict[int, int] = {}
    for s, _ in eu:
        deg[s] = deg.get(s, 0) + 1
    base = ((100 - DAMP_PCT) * TOTAL) // (100 * n)
    rank = {v: TOTAL // n for v in verts}
    for _ in range(iters):
        inflow = {v: 0 for v in verts}
        for s, d in eu:
            inflow[d] += rank[s] // deg[s]
        rank = {v: base + (DAMP_PCT * inflow[v]) // 100 for v in verts}
    return rank


def _np_pagerank(n, edges, d=0.85, iters=15):
    """Dense float PageRank; edges: directed (src, dst) list over
    0..n-1, dangling mass redistributed uniformly."""
    out_deg = np.zeros(n)
    for s, _ in edges:
        out_deg[s] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        dangling = r[out_deg == 0].sum()
        inflow = np.zeros(n)
        for s, t in edges:
            inflow[t] += r[s] / out_deg[s]
        r = (1 - d) / n + d * dangling / n + d * inflow
    return r


def test_matches_python_integer_reference(spark, sf_dir):
    edges = _edges(spark, sf_dir)
    pairs = [(r.src, r.dst) for r in edges.collect()]
    want = _py_reference(pairs, iters=12)
    got = {r.id: r.rank for r in pagerank_exact(edges, iters=12).collect()}
    assert got == want  # EXACT — integer arithmetic end to end


def test_close_to_float_pagerank_at_equal_rounds(spark, sf_dir):
    edges = _edges(spark, sf_dir)
    ex = {r.id: r.rank for r in pagerank_exact(edges, iters=12).collect()}
    ids = sorted(ex)
    at = {v: i for i, v in enumerate(ids)}
    mirrored = {(at[r.src], at[r.dst]) for r in edges.collect()}
    mirrored |= {(t, s) for s, t in mirrored}
    fl = _np_pagerank(len(ids), sorted(mirrored), iters=12)
    s = sum(ex.values())
    for v, i in at.items():
        assert abs(ex[v] / s - fl[i]) < 1e-6, v  # truncation drain is ~1e-12/round


def test_bit_determinism_under_repartitioning(spark, sf_dir):
    edges = _edges(spark, sf_dir)
    a = sorted(tuple(r) for r in pagerank_exact(edges, iters=6).collect())
    b = sorted(
        tuple(r) for r in pagerank_exact(edges.repartition(13), iters=6).collect()
    )
    assert a == b


def test_empty_graph(spark):
    df = spark.createDataFrame([], "src bigint, dst bigint")
    assert pagerank_exact(df, iters=3).count() == 0


def test_star_center_dominates(spark):
    # star: hub 0 connected to 1..5; hub must get the top rank
    df = spark.createDataFrame([(0, i) for i in range(1, 6)], "src bigint, dst bigint")
    got = {r.id: r.rank for r in pagerank_exact(df, iters=15).collect()}
    assert max(got, key=got.get) == 0
    assert sum(got.values()) <= TOTAL  # truncation only ever drains mass
