"""Agreement contracts for the `_ann` twin registrations: the IVF
retriever composed into triplet mining and the label-noise audit must
reproduce the exact forms at full probe and stay ≥ 0.9-consistent at
partial probe on clustered data (the regime ANN exists for — see
tests/test_ivf.py::_clustered_corpus for why the driver's isotropic
embeddings can't measure this)."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_application_spark.operators.similarity import (
    contrastive_triplets,
    label_noise_audit,
)
from tests.test_ivf import _clustered_corpus


def test_contrastive_triplets_full_probe_matches_exact(spark):
    """Full probe + k_retrieve ≥ |corpus| degrades the ANN miner to the
    exact miner — identical triplets row-for-row."""
    emb = _clustered_corpus(spark, n_clusters=4, per_cluster=30)
    labels = emb.select("vec_id", "label")
    q = emb.filter(F.col("vec_id") < 8)
    exact = contrastive_triplets(
        q, emb, labels, k_retrieve=200, use_ann=False
    )
    full = contrastive_triplets(
        q, emb, labels, k_retrieve=200, use_ann=True, n_centroids=4, n_probe=4
    )
    e = {tuple(r) for r in exact.collect()}
    g = {tuple(r) for r in full.collect()}
    assert g == e


def test_contrastive_triplets_partial_probe_agreement(spark):
    emb = _clustered_corpus(spark)
    labels = emb.select("vec_id", "label")
    q = emb.filter(F.col("vec_id") % 30 == 0)
    kw = dict(k_retrieve=80)
    exact = {
        r.query_id: (r.positive_id, r.negative_id)
        for r in contrastive_triplets(q, emb, labels, use_ann=False, **kw).collect()
    }
    ann = {
        r.query_id: (r.positive_id, r.negative_id)
        for r in contrastive_triplets(
            q, emb, labels, use_ann=True, n_centroids=10, n_probe=3, **kw
        ).collect()
    }
    assert set(ann) == set(exact)  # no query drops a triplet
    pos_agree = sum(ann[k][0] == exact[k][0] for k in exact) / len(exact)
    assert pos_agree >= 0.9, f"positive agreement {pos_agree:.2f}"


def test_label_noise_audit_full_probe_matches_exact(spark):
    emb = _clustered_corpus(spark, n_clusters=4, per_cluster=30)
    labels = emb.select("vec_id", "label")
    exact = label_noise_audit(emb, labels, k=5, use_ann=False)
    full = label_noise_audit(
        emb, labels, k=5, use_ann=True, n_centroids=4, n_probe=4
    )
    e = {tuple(r) for r in exact.collect()}
    g = {tuple(r) for r in full.collect()}
    assert g == e


def test_label_noise_audit_partial_probe_flag_agreement(spark):
    """The audit's OUTPUT is the noise flag — partial probe must agree
    with exact on ≥ 0.9 of vectors (flags are robust to a swapped
    neighbor as long as the label neighborhood holds)."""
    emb = _clustered_corpus(spark)
    labels = emb.select("vec_id", "label")
    exact = {
        r.vec_id: r.noise_candidate
        for r in label_noise_audit(emb, labels, k=5, use_ann=False).collect()
    }
    ann = {
        r.vec_id: r.noise_candidate
        for r in label_noise_audit(
            emb, labels, k=5, use_ann=True, n_centroids=10, n_probe=3
        ).collect()
    }
    assert set(ann) == set(exact)
    agree = sum(ann[k] == exact[k] for k in exact) / len(exact)
    assert agree >= 0.9, f"flag agreement {agree:.2f}"


def test_label_noise_exact_form_matches_operator(spark, sf_dir):
    """The registered exact query (plans/labelnoise_queries.py, inline
    brute-force form) and the operator's use_ann=False path must be the
    same audit — pin them against each other on driver data so the twin
    pair can't drift."""
    from flink_application_spark.catalog import table
    from flink_application_spark.plans.registry import REGISTRY_GET

    emb = table(spark, sf_dir, "embeddings")
    via_op = label_noise_audit(
        emb, emb.select("vec_id", "label"), k=5, use_ann=False
    )
    registered = REGISTRY_GET("emb_label_noise_knn").spark(spark, sf_dir)
    a = {tuple(r) for r in via_op.collect()}
    b = {tuple(r) for r in registered.collect()}
    assert a == b


def test_radius_search_full_probe_matches_exact(spark):
    """n_probe = n_centroids degrades IVF radius search to the exact
    scan — identical (query, vec, cosine) rows."""
    from flink_application_spark.operators.similarity import radius_search

    emb = _clustered_corpus(spark, n_clusters=4, per_cluster=30)
    q = emb.filter(F.col("vec_id") < 8)
    exact = {tuple(r) for r in radius_search(q, emb, 0.5).collect()}
    full = {
        tuple(r)
        for r in radius_search(
            q, emb, 0.5, use_ann=True, n_centroids=4, n_probe=4
        ).collect()
    }
    assert full == exact
    assert exact, "clustered corpus must have in-radius neighbors"


def test_radius_search_ann_is_subset_of_exact(spark):
    """Structural contract: the ANN radius result applies the same
    radius filter to a candidate SUBSET, so ann ⊆ exact at ANY probe
    count — deterministic, no recall flake."""
    from flink_application_spark.operators.similarity import radius_search

    emb = _clustered_corpus(spark)
    q = emb.filter(F.col("vec_id") % 30 == 0)
    exact = {(r.query_id, r.vec_id) for r in radius_search(q, emb, 0.5).collect()}
    ann = {
        (r.query_id, r.vec_id)
        for r in radius_search(
            q, emb, 0.5, use_ann=True, n_centroids=10, n_probe=2
        ).collect()
    }
    assert ann <= exact
    # clustered data: probing the home clusters finds most of the mass
    assert len(ann) >= 0.5 * len(exact)


def test_radius_search_registered_twin_subset_on_driver_data(spark, sf_dir):
    """The registered pair on real driver data: emb_radius_search_ann
    rows ⊆ emb_radius_search rows (cosine column included — same
    rounding on both paths)."""
    from flink_application_spark.plans.registry import REGISTRY_GET

    exact = {
        tuple(r) for r in REGISTRY_GET("emb_radius_search").spark(spark, sf_dir).collect()
    }
    ann = {
        tuple(r)
        for r in REGISTRY_GET("emb_radius_search_ann").spark(spark, sf_dir).collect()
    }
    assert ann <= exact
