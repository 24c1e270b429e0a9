"""The shared near-dup pair memo (round-11 verdict item 7): the
gate-only dedup consumers (doc_dedup_canonical_near,
doc_dedup_keep_best_quality, doc_dup_components,
corpus_source_contamination_matrix) derive their pair set from ONE
session-scoped verified_near_dup_pairs run instead of four. Default
tier — two sf0.001 LSH pipelines, seconds."""

from __future__ import annotations

from flink_application_spark.catalog import table
from flink_application_spark.plans import _memo


def test_near_dup_pairs_memo_matches_inline_and_builds_once(spark, sf_dir):
    from flink_application_spark.operators.minhash import (
        verified_near_dup_pairs,
    )

    docs = table(spark, sf_dir, "documents")
    got = _memo.near_dup_pairs_cached(spark, docs, sf_dir, 0.5)
    again = _memo.near_dup_pairs_cached(spark, docs, sf_dir, 0.5)
    assert got is again  # memo hit — one pipeline per session/key
    want = verified_near_dup_pairs(docs, threshold=0.5)
    g = sorted((r["id_a"], r["id_b"], r["jaccard"]) for r in got.collect())
    w = sorted((r["id_a"], r["id_b"], r["jaccard"]) for r in want.collect())
    assert g == w and len(g) > 0


def test_near_dup_components_memo_matches_inline(spark, sf_dir):
    from flink_application_spark.operators.components import (
        connected_components,
    )
    from flink_application_spark.operators.minhash import (
        verified_near_dup_pairs,
    )

    docs = table(spark, sf_dir, "documents")
    got = _memo.near_dup_components_cached(spark, docs, sf_dir, 0.5)
    again = _memo.near_dup_components_cached(spark, docs, sf_dir, 0.5)
    assert got is again  # memo hit — one CC loop per session/key
    want = connected_components(
        verified_near_dup_pairs(docs, threshold=0.5),
        vertices=docs, src="id_a", dst="id_b", vertex_col="doc_id",
    )
    g = sorted((r["v"], r["component"]) for r in got.collect())
    w = sorted((r["v"], r["component"]) for r in want.collect())
    assert g == w and len(g) > 0


def test_near_dup_pairs_memo_keeps_one_live_entry_per_application(spark, sf_dir):
    from pyspark import StorageLevel

    docs = table(spark, sf_dir, "documents")
    app_id = spark.sparkContext.applicationId
    first = _memo.near_dup_pairs_cached(spark, docs, sf_dir, 0.6)
    comp = _memo.near_dup_components_cached(spark, docs, sf_dir, 0.6)
    assert first.storageLevel != StorageLevel.NONE
    second = _memo.near_dup_pairs_cached(spark, docs, sf_dir, 0.7)
    assert [k for k in _memo._PAIRS if k[0] == app_id] == [(app_id, sf_dir, 0.7)]
    assert first.storageLevel == StorageLevel.NONE
    assert second.storageLevel != StorageLevel.NONE
    # the components derived from the replaced pair frame go with it
    assert not [k for k in _memo._COMPONENTS if k[0] == app_id]
    assert comp.storageLevel == StorageLevel.NONE


def test_kmeans_and_count_memos_keep_one_application(monkeypatch):
    """A new application id evicts the old one's k-means fits and
    corpus counts: a long-lived driver that restarts sessions holds one
    application's entries, not one per session ever started."""
    from types import SimpleNamespace

    from flink_application_spark.operators import kmeans_exact

    monkeypatch.setattr(
        kmeans_exact, "kmeans_fit_exact", lambda emb, k, iters: ([[k]], [iters])
    )
    monkeypatch.setattr(_memo, "_KMEANS", {})
    monkeypatch.setattr(_memo, "_NVEC", {})
    emb = SimpleNamespace(count=lambda: 7)
    for app in ("app-1", "app-2"):
        spark = SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app))
        assert _memo.kmeans_fit_exact_cached(spark, emb, "/sf", 8, 5) == ([[8]], [5])
        _memo.kmeans_fit_exact_cached(spark, emb, "/sf", 4, 5)
        assert _memo.corpus_count_cached(spark, emb, "/sf") == 7
    assert sorted(_memo._KMEANS) == [("app-2", "/sf", 4, 5), ("app-2", "/sf", 8, 5)]
    assert list(_memo._NVEC) == [("app-2", "/sf")]
