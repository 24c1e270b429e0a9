"""IVF ANN properties: exactness at full probe, recall at partial probe."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_application_spark.catalog import table
from flink_application_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
    train_centroids,
)


def _emb(spark, sf_dir):
    return table(spark, sf_dir, "embeddings")


def test_full_probe_equals_bruteforce(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 5)
    cents = train_centroids(emb, n_centroids=8)
    exact = brute_force_topk(q, emb, k=5)
    ivf = ivf_topk(q, emb, k=5, n_probe=8, centroids=cents)
    e = {(r.query_id, r.vec_id, r.cosine) for r in exact.collect()}
    g = {(r.query_id, r.vec_id, r.cosine) for r in ivf.collect()}
    assert g == e


def test_partial_probe_recall(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 10)
    cents = train_centroids(emb, n_centroids=8)
    exact = brute_force_topk(q, emb, k=5)
    ivf = ivf_topk(q, emb, k=5, n_probe=3, centroids=cents)
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    g = {(r.query_id, r.vec_id) for r in ivf.collect()}
    recall = len(e & g) / len(e)
    assert recall >= 0.5, f"recall {recall:.2f} too low"


def _clustered_corpus(spark, n_clusters=10, per_cluster=60, dim=16, seed=5):
    """Synthetic corpus WITH cluster structure. The driver testdata's
    embeddings are isotropic random (measured within-label cosine ==
    cross-label == ~0), so partial-probe recall there is bounded by
    the probe fraction for ANY retriever — the >= 0.9 recall contract
    only makes sense on data where nearest neighbors concentrate in
    few cells, which is the regime IVF exists for."""
    import numpy as np
    from pyspark.sql.types import (
        ArrayType, FloatType, IntegerType, LongType, StructField, StructType,
    )

    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_clusters, dim)) * 5.0
    rows = []
    for c in range(n_clusters):
        pts = centers[c] + rng.normal(size=(per_cluster, dim))
        rows += [
            (c * per_cluster + i, pts[i].astype(np.float32).tolist(), c)
            for i in range(per_cluster)
        ]
    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("label", IntegerType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


def test_knn_classify_ann_agreement(spark):
    """use_ann=True must agree with brute-force predictions on >= 0.9
    of queries on clustered data (the verdict's bar for composing the
    scale retriever into downstream ops)."""
    from flink_application_spark.operators.similarity import knn_classify

    emb = _clustered_corpus(spark)
    q = emb.filter(F.col("vec_id") % 30 == 0)
    c = emb.filter(F.col("vec_id") % 30 != 0)
    labels = emb.select("vec_id", "label")
    kw = dict(k=5)
    exact = {
        r.query_id: r.predicted_label
        for r in knn_classify(q, c, labels, use_ann=False, **kw).collect()
    }
    ann = {
        r.query_id: r.predicted_label
        for r in knn_classify(
            q, c, labels, use_ann=True, n_centroids=10, n_probe=3, **kw
        ).collect()
    }
    assert set(ann) == set(exact)  # ANN must not drop queries
    agree = sum(ann[k] == exact[k] for k in exact) / len(exact)
    assert agree >= 0.9, f"agreement {agree:.2f} too low"


def test_mmr_ann_retrieval_overlap(spark):
    """MMR over ANN retrieval: full probe reproduces the exact
    selection; partial probe keeps >= 0.9 overlap on clustered data."""
    from flink_application_spark.operators.similarity import mmr_rerank, train_centroids

    emb = _clustered_corpus(spark)
    q = emb.filter(F.col("vec_id") < 5)
    kw = dict(k_retrieve=20, k_final=5)
    exact = {
        (r.query_id, r.vec_id) for r in mmr_rerank(q, emb, **kw).collect()
    }
    full = {
        (r.query_id, r.vec_id)
        for r in mmr_rerank(
            q, emb, use_ann=True, n_centroids=8, n_probe=8, **kw
        ).collect()
    }
    assert full == exact
    part = {
        (r.query_id, r.vec_id)
        for r in mmr_rerank(
            q, emb, use_ann=True, n_centroids=10, n_probe=3, **kw
        ).collect()
    }
    assert len(part & exact) / len(exact) >= 0.9


def test_partial_probe_recall_isotropic_floor(spark, sf_dir):
    """On the isotropic driver testdata, partial-probe recall cannot
    reach 0.9 for any retriever — pin the realistic floor instead so a
    regression below probe-fraction behavior still surfaces."""
    from flink_application_spark.operators.similarity import knn_classify

    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 20)
    c = emb.filter(F.col("vec_id") >= 20)
    labels = emb.select("vec_id", "label")
    exact = {
        r.query_id: r.predicted_label
        for r in knn_classify(q, c, labels, k=5, use_ann=False).collect()
    }
    ann = {
        r.query_id: r.predicted_label
        for r in knn_classify(
            q, c, labels, k=5, use_ann=True, n_centroids=8, n_probe=4
        ).collect()
    }
    assert set(ann) == set(exact)
    agree = sum(ann[k] == exact[k] for k in exact) / len(exact)
    assert agree >= 0.4, f"agreement {agree:.2f} below isotropic floor"


def test_centroids_deterministic(spark, sf_dir):
    import numpy as np

    emb = _emb(spark, sf_dir)
    c1 = train_centroids(emb, n_centroids=8)
    c2 = train_centroids(emb, n_centroids=8)
    assert np.array_equal(c1, c2)


def test_ivf_with_distributed_lloyd_centroids(spark):
    """IVF composed with the DISTRIBUTED exact-integer k-means
    (`operators/kmeans_exact`) instead of the driver-sample trainer: on
    clustered data, partial probe must keep >= 0.9 recall vs brute
    force — proving the no-driver-bottleneck training path slots into
    the same index."""
    import numpy as np

    from flink_application_spark.operators.kmeans_exact import kmeans_fit_exact

    emb = _clustered_corpus(spark)
    cents, _ = kmeans_fit_exact(emb, k=10, iters=8)
    q = emb.filter(F.col("vec_id") % 30 == 0)
    exact = brute_force_topk(q, emb, k=5)
    ivf = ivf_topk(q, emb, k=5, n_probe=3, centroids=np.asarray(cents) / 1e6)
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    g = {(r.query_id, r.vec_id) for r in ivf.collect()}
    recall = len(e & g) / len(e)
    assert recall >= 0.9, f"recall {recall:.2f} too low"


def test_centroids_train_on_the_md5_bottom_k_sample(spark):
    """Above `sample_cap` only the bottom-cap rows by md5(vec_id) reach
    the trainer: with k = 1 and one round the centroid is the sample's
    rounded ppm mean, not the corpus mean nor the id-prefix mean."""
    import hashlib

    n, cap = 40, 12
    df = spark.createDataFrame(
        [(i, [float(i)]) for i in range(n)], "vec_id long, embedding array<double>"
    )
    bottom = sorted(range(n), key=lambda i: hashlib.md5(str(i).encode()).hexdigest())
    got = train_centroids(df, n_centroids=1, n_iter=1, sample_cap=cap)

    def mean_ppm(ids):  # Spark's HALF_UP round of a nonnegative quotient
        return int(sum(i * 1_000_000 for i in ids) / len(ids) + 0.5) / 1e6

    assert got.tolist() == [[mean_ppm(bottom[:cap])]]
    assert mean_ppm(bottom[:cap]) not in (mean_ppm(range(n)), mean_ppm(range(cap)))
