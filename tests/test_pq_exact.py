"""Exact-TRAINED PQ/ADC (`operators/pq_exact.py`): codebooks from the
exact-integer Lloyd's loop, corpus codes and ADC scores all exact
BIGINTs. Oracle parity is covered by tests/test_oracle_parity.py;
here an independent numpy replica pins the semantics (codes, ADC
values, ranking), plus determinism and the empty-input guard."""

from __future__ import annotations

import numpy as np
import pytest

from flink_application_spark.operators.pq_exact import (
    DSUB,
    ITERS,
    KCODE,
    M,
    pq_exact_adc_topk,
    pq_exact_train,
)

_SF = "/root/testdata/sf0.001"
_K = 10


def _emb(spark):
    from flink_application_spark.catalog import table

    return table(spark, _SF, "embeddings")


@pytest.fixture(scope="module")
def corpus(spark):
    rows = (
        _emb(spark)
        .filter("embedding IS NOT NULL")
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    ids = np.array([r["vec_id"] for r in rows])
    x = np.round(np.array([r["embedding"] for r in rows], dtype=np.float64) * 1e6)
    return ids, x


def _np_kmeans_exact(xsub: np.ndarray, k: int, iters: int) -> np.ndarray:
    """numpy replica of kmeans_fit_exact on a subspace: seed = first k
    id-ordered rows, exact integer d² argmin (ties → cluster asc via
    argmin-first-min), integer sums + half-away round of the mean."""
    cents = xsub[:k].copy()
    for _ in range(iters):
        d2 = ((xsub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)  # first min == lowest cluster tie-break
        for c in range(k):
            sel = xsub[assign == c]
            if len(sel):
                s = sel.sum(axis=0)
                cents[c] = np.sign(s) * np.floor(np.abs(s / len(sel)) + 0.5)
    return cents


@pytest.fixture(scope="module")
def np_books(corpus):
    _, x = corpus
    return [
        _np_kmeans_exact(x[:, s * DSUB : (s + 1) * DSUB], KCODE, ITERS)
        for s in range(M)
    ]


def test_trained_codebooks_match_numpy_replica(spark, np_books):
    books = pq_exact_train(_emb(spark))
    assert len(books) == M and all(len(b) == KCODE for b in books)
    for s in range(M):
        assert np.array_equal(
            np.asarray(books[s], dtype=np.float64), np_books[s]
        ), s


def test_adc_scores_and_ranking_match_numpy_replica(spark, corpus, np_books):
    """The registered query's (query, candidate, adc score, rank) must
    equal the numpy replay: assign codes by exact d² argmin, score by
    d²(query_sub, codeword(code)), rank by (score, vec_id)."""
    ids, x = corpus
    codes = np.stack(
        [
            ((x[:, None, s * DSUB : (s + 1) * DSUB] - np_books[s][None, :, :]) ** 2)
            .sum(axis=2)
            .argmin(axis=1)
            for s in range(M)
        ],
        axis=1,
    )  # (n, M)
    got = {}
    for r in pq_exact_adc_topk(_emb(spark), k=_K).collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["vec_id"], r["adc_q"])
        )
    for q in range(5):
        qi = int(np.where(ids == q)[0][0])
        scores = np.zeros(len(ids))
        for s in range(M):
            tab = ((x[qi, s * DSUB : (s + 1) * DSUB][None, :] - np_books[s]) ** 2).sum(
                axis=1
            )
            scores += tab[codes[:, s]]
        order = sorted(
            (int(scores[i]), int(ids[i])) for i in range(len(ids)) if ids[i] != q
        )[:_K]
        want = [(rk + 1, v, sc) for rk, (sc, v) in enumerate(order)]
        assert sorted(got[q]) == want, q


def test_bit_deterministic_under_repartitioning(spark):
    emb = _emb(spark)
    a = sorted(map(tuple, pq_exact_adc_topk(emb.repartition(32), k=_K).collect()))
    b = sorted(map(tuple, pq_exact_adc_topk(emb.coalesce(1), k=_K).collect()))
    assert a == b


def test_empty_input_returns_empty_frame(spark):
    empty = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    df = pq_exact_adc_topk(empty, k=_K)
    assert df.columns == ["query_id", "vec_id", "adc_q", "rank"]
    assert df.count() == 0
