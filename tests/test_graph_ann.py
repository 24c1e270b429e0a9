"""Graph-ANN beam search (operators/graph_ann.py): python-reference
parity for the beam semantics, oracle parity for both registered
modes, and the exact-scan baseline against a direct python scan."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from flink_application_spark.catalog import table
from flink_application_spark.operators.graph_ann import (
    exact_topk_int,
    graph_ann_oracle_sql,
    graph_ann_search_topk,
)
from flink_application_spark.operators.kmeans_exact import quantize_ppm
from flink_application_spark.operators.nndescent_exact import nn_descent_exact

_K, _BEAM, _HOPS, _NQ = 6, 8, 3, 5


def _emb(spark, sf_dir):
    return table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())


def test_topk_matches_oracle(spark, sf_dir):
    got = sorted(
        map(
            tuple,
            graph_ann_search_topk(
                _emb(spark, sf_dir), k=_K, beam=_BEAM, hops=_HOPS, n_queries=_NQ
            ).collect(),
        )
    )
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    want = sorted(
        map(
            tuple,
            con.sql(
                graph_ann_oracle_sql(
                    "topk", k=_K, beam=_BEAM, hops=_HOPS, n_queries=_NQ
                )
            ).fetchall(),
        )
    )
    assert got == want


def test_beam_search_matches_python_reference(spark, sf_dir):
    """An independent python beam search over the SAME (Spark-built)
    graph and ppm vectors must reproduce the distributed search —
    pins the beam semantics (entry points, expansion, tie order,
    self-exclusion) separately from the oracle."""
    emb = _emb(spark, sf_dir)
    vecs = {
        r["vec_id"]: list(r["e"]) for r in quantize_ppm(emb).collect()
    }
    g = nn_descent_exact(emb, k=_K, n_iter=_HOPS)
    adj: dict[int, list[int]] = {}
    for r in g.collect():
        adj.setdefault(r["vec_id"], []).append(r["nbr_id"])
    entries = sorted(vecs)[:_BEAM]

    def d2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(vecs[a], vecs[b]))

    want = set()
    for qid in sorted(vecs)[:_NQ]:
        beam = sorted(
            ((d2(qid, v), v) for v in entries if v != qid)
        )[:_BEAM]
        for _ in range(_HOPS):
            cand = {v for _, v in beam}
            for _, v in beam:
                cand.update(adj.get(v, []))
            cand.discard(qid)
            beam = sorted((d2(qid, v), v) for v in cand)[:_BEAM]
        for rank, (s, v) in enumerate(beam[:_K], start=1):
            want.add((qid, v, s, rank))
    got = {
        tuple(r)
        for r in graph_ann_search_topk(
            emb, k=_K, beam=_BEAM, hops=_HOPS, n_queries=_NQ
        ).collect()
    }
    assert got == want


def test_exact_scan_matches_python(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    vecs = {r["vec_id"]: list(r["e"]) for r in quantize_ppm(emb).collect()}
    want = set()
    for qid in sorted(vecs)[:_NQ]:
        scored = sorted(
            (
                sum((x - y) * (x - y) for x, y in zip(vecs[qid], vecs[v])),
                v,
            )
            for v in vecs
            if v != qid
        )
        for rank, (s, v) in enumerate(scored[:_K], start=1):
            want.add((qid, v, s, rank))
    got = {
        tuple(r) for r in exact_topk_int(emb, k=_K, n_queries=_NQ).collect()
    }
    assert got == want


def test_recall_bounds_and_k_guard(spark, sf_dir):
    from flink_application_spark.plans.registry import REGISTRY_GET, _load_all

    _load_all()
    rows = REGISTRY_GET("emb_graph_ann_recall").spark(spark, sf_dir).collect()
    assert len(rows) == _NQ
    for r in rows:
        assert 0 <= r["hits"] <= _K
        assert 0 <= r["recall_ppm"] <= 1_000_000
    with pytest.raises(ValueError, match="beam"):
        graph_ann_search_topk(_emb(spark, sf_dir), k=10, beam=8)
