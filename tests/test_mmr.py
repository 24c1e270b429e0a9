"""MMR re-ranking contracts: λ=1 degenerates to plain cosine ranking,
the first pick is always the top-1, output is exactly k distinct items
per query, and the greedy is deterministic."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_application_spark.catalog import table
from flink_application_spark.operators.similarity import brute_force_topk, mmr_rerank


def _emb(spark, sf_dir):
    return table(spark, sf_dir, "embeddings")


def test_lambda_one_equals_cosine_ranking(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 3)
    mmr = mmr_rerank(emb_q := queries, emb, k_retrieve=15, k_final=5, lam=1.0)
    plain = brute_force_topk(emb_q, emb, k=5)
    got = {(r.query_id, r.rank): r.vec_id for r in mmr.collect()}
    want = {(r.query_id, r.rank): r.vec_id for r in plain.collect()}
    assert got == want


def test_first_pick_k_and_determinism(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 3)
    mmr = mmr_rerank(queries, emb, k_retrieve=15, k_final=5, lam=0.5)
    rows = mmr.collect()
    plain_top1 = {
        r.query_id: r.vec_id
        for r in brute_force_topk(queries, emb, k=1).collect()
    }
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == set(plain_top1)
    for qid, sel in by_q.items():
        sel.sort(key=lambda r: r.rank)
        # exactly k distinct picks, ranks 1..k
        assert [r.rank for r in sel] == [1, 2, 3, 4, 5]
        assert len({r.vec_id for r in sel}) == 5
        # first pick is the cosine top-1 (no penalty before S is non-empty)
        assert sel[0].vec_id == plain_top1[qid]
    # deterministic-replay contract: rerun selects identically
    again = {(r.query_id, r.rank): r.vec_id for r in
             mmr_rerank(queries, emb, k_retrieve=15, k_final=5, lam=0.5).collect()}
    assert again == {(r.query_id, r.rank): r.vec_id for r in rows}


def test_non_tenth_lambda_accepted(spark, sf_dir):
    """lam quantizes to micro-units — 0.75 (the round-7 regression:
    any non-tenth raised ValueError) must work and interpolate between
    the neighbouring tenths: same contract shape as any other λ."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 3)
    rows = mmr_rerank(queries, emb, k_retrieve=15, k_final=5, lam=0.75).collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for sel in by_q.values():
        assert sorted(r.rank for r in sel) == [1, 2, 3, 4, 5]
        assert len({r.vec_id for r in sel}) == 5
    import pytest

    with pytest.raises(ValueError):
        mmr_rerank_scores_probe = mmr_rerank(
            queries, emb, k_retrieve=15, k_final=5, lam=1.5
        )


def test_tenth_lambda_scores_stay_on_e7_grid(spark, sf_dir):
    """For tenth λ the micro-unit integer score is an exact 1e5
    multiple, so mmr_score must sit exactly on the 1e-7 grid — the
    invariant that keeps the lam10-based DuckDB oracles
    (plans/mmr_sql.py) bit-identical after the micro-unit
    generalization."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 3)
    for r in mmr_rerank(queries, emb, k_retrieve=15, k_final=5, lam=0.7).collect():
        # the double must be EXACTLY m/1e7 for integer m — i.e. the
        # value the lam10 oracle emits (m*1e7 itself is float-lossy,
        # so compare by round-tripping through the grid)
        m = round(r.mmr_score * 1e7)
        assert r.mmr_score == m / 1e7, r
