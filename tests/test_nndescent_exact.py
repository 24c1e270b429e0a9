"""Exact-integer NN-Descent (operators/nndescent_exact.py): oracle
parity for all three registered modes, the quadratic integer baseline
against a pure-Python reference, Arrow-scorer == JVM-fold equality,
partitioning invariance (integer sums are order-free — the whole
point of the conversion), recall >= 0.9 on a clustered corpus, and
the scored-ever anti-join (no pair is ever scored twice)."""

from __future__ import annotations

import duckdb
import numpy as np
from pyspark.sql import functions as F

from flink_application_spark.catalog import table
from flink_application_spark.operators.kmeans_exact import quantize_ppm
from flink_application_spark.operators.nndescent_exact import (
    knn_graph_exact_int,
    nn_descent_exact,
    nn_descent_exact_oracle_sql,
    pair_d2_arrow,
)

_K = 6
_ITERS = 3


def _emb(spark, sf_dir):
    return table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())


def _oracle(sf_dir: str, mode: str):
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW embeddings AS "
        f"SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    return con.sql(nn_descent_exact_oracle_sql(mode, k=_K, n_iter=_ITERS)).fetchall()


def test_graph_matches_oracle(spark, sf_dir):
    got = sorted(
        (r["vec_id"], r["nbr_id"], r["d2"], r["rank"])
        for r in nn_descent_exact(_emb(spark, sf_dir), k=_K, n_iter=_ITERS).collect()
    )
    want = sorted(map(tuple, _oracle(sf_dir, "graph")))
    assert got == want


def test_profile_matches_oracle(spark, sf_dir):
    from flink_application_spark.operators.nndescent_exact import (
        nn_descent_exact_profile,
    )

    got = sorted(
        tuple(r) for r in nn_descent_exact_profile(
            _emb(spark, sf_dir), spark, k=_K, n_iter=_ITERS
        ).collect()
    )
    want = sorted(map(tuple, _oracle(sf_dir, "profile")))
    assert got == want
    # convergence invariants: kept d² sum never increases (kept sets
    # only improve); new_edges stays within the n·k edge budget
    sums = [r[2] for r in got]
    assert sums == sorted(sums, reverse=True)


def test_exact_int_graph_matches_python(spark, sf_dir):
    """The two-phase Arrow int64 baseline == a direct Python O(n²)
    scan with the same ppm quantization and (d2, id) tie order."""
    rows = quantize_ppm(_emb(spark, sf_dir)).collect()
    vecs = {r["vec_id"]: list(r["e"]) for r in rows}
    want = set()
    for a, va in vecs.items():
        scored = sorted(
            (sum((x - y) * (x - y) for x, y in zip(va, vb)), b)
            for b, vb in vecs.items()
            if b != a
        )
        for rank, (d2, b) in enumerate(scored[:_K], start=1):
            want.add((a, b, d2, rank))
    got = {
        (r["vec_id"], r["nbr_id"], r["d2"], r["rank"])
        for r in knn_graph_exact_int(_emb(spark, sf_dir), k=_K).collect()
    }
    assert got == want


def test_arrow_d2_equals_jvm_fold(spark, sf_dir):
    """pair_d2_arrow == the aggregate/zip_with JVM fold on identical
    ppm inputs — integer adds are order-free, so equality is exact."""
    q = quantize_ppm(_emb(spark, sf_dir)).limit(40)
    pairs = (
        q.select(F.col("vec_id").alias("id_a"), F.col("e").alias("_va"))
        .crossJoin(
            q.select(F.col("vec_id").alias("id_b"), F.col("e").alias("_vb"))
        )
        .filter(F.col("id_a") < F.col("id_b"))
    )
    both = pairs.select(
        "id_a",
        "id_b",
        pair_d2_arrow(F.col("_va"), F.col("_vb")).alias("arrow"),
        F.expr(
            "aggregate(zip_with(_va, _vb, (a, b) -> (a - b) * (a - b)),"
            " 0L, (acc, x) -> acc + x)"
        ).alias("fold"),
    ).collect()
    assert both and all(r["arrow"] == r["fold"] for r in both)


def test_graph_invariant_under_repartition(spark, sf_dir):
    base = _emb(spark, sf_dir)
    a = sorted(
        map(tuple, nn_descent_exact(base, k=_K, n_iter=1).collect())
    )
    b = sorted(
        map(
            tuple,
            nn_descent_exact(base.repartition(7, "vec_id"), k=_K, n_iter=1).collect(),
        )
    )
    assert a == b


def _clustered_corpus(spark, n_clusters=10, per_cluster=40, dim=16, seed=5):
    """Synthetic corpus WITH cluster structure (same rationale as
    tests/test_ivf.py: the fixture embeddings are isotropic random, so
    high-recall contracts only make sense where neighbors concentrate
    — the regime graph-ANN exists for)."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_clusters, dim)) * 5.0
    rows = []
    for c in range(n_clusters):
        pts = centers[c] + rng.normal(size=(per_cluster, dim))
        rows += [
            (c * per_cluster + i, pts[i].astype(np.float32).tolist())
            for i in range(per_cluster)
        ]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def test_recall_on_clustered_corpus(spark):
    """>= 0.9 edge recall vs the exact integer graph after a few rounds
    on clustered data — the regime the operator exists for (the
    fixture's isotropic embeddings are the documented hard floor,
    published by the emb_knn_graph_recall registry entry instead).

    k matters (WWW'11 §5): recall rises with k because a larger kept
    set keeps more bridge edges alive for the local join. Measured on
    this corpus: k=6 plateaus ~0.5 (converged local optimum), k=10
    reaches 1.0 by round 6 — so the >= 0.9 contract is pinned at k=10,
    the honest operating point, not at a k where the algorithm is
    known-degraded."""
    emb = _clustered_corpus(spark)
    k = 10
    exact = {
        (r.vec_id, r.nbr_id) for r in knn_graph_exact_int(emb, k=k).collect()
    }
    approx = {
        (r.vec_id, r.nbr_id)
        for r in nn_descent_exact(emb, k=k, n_iter=6).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"recall {recall:.3f} too low"


def test_rescored_pairs_never_regenerate(spark, sf_dir, monkeypatch):
    """The anti-join excludes ALL ever-scored pairs, not just pairs
    currently in the graph (the WWW'11 new/old-flag role): a pair
    scored and rejected in round 1 must not be re-scored in round 2.
    Pinned by recording every pair handed to the Arrow scorer."""
    import flink_application_spark.operators.nndescent_exact as nde

    emb = _emb(spark, sf_dir).filter(F.col("vec_id") < 60)
    seen: set = set()
    orig = nde._score_pairs_int

    def spy(pairs, q):
        batch = {
            (r.id_a, r.id_b) if r.id_a < r.id_b else (r.id_b, r.id_a)
            for r in pairs.select("id_a", "id_b").collect()
        }
        dup = batch & seen
        assert not dup, f"re-scored pairs: {sorted(dup)[:5]}"
        seen.update(batch)
        return orig(pairs, q)

    monkeypatch.setattr(nde, "_score_pairs_int", spy)
    nn_descent_exact(emb, k=4, n_iter=3)
    assert seen  # the spy actually observed scoring work
