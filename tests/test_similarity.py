

def test_multiprobe_recall_at_least_single_bucket(spark, sf_dir):
    """Multi-probe candidates are a SUPERSET of the single-bucket
    candidates (own bucket is always probed), so recall against the
    exact top-5 can only improve or tie — and the probe set must
    actually add candidates on this corpus (otherwise the knob is
    dead weight)."""
    from pyspark.sql import functions as F

    from flink_application_spark.catalog import table
    from flink_application_spark.operators.similarity import (
        brute_force_topk,
        lsh_ann_topk,
        lsh_multiprobe_topk,
    )

    emb = table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r["query_id"], r["vec_id"])
        for r in brute_force_topk(qs, emb, k=5).select("query_id", "vec_id").collect()
    }
    single = {
        (r["query_id"], r["vec_id"])
        for r in lsh_ann_topk(qs, emb, k=5, n_bits=8).select("query_id", "vec_id").collect()
    }
    multi = {
        (r["query_id"], r["vec_id"])
        for r in lsh_multiprobe_topk(qs, emb, k=5, n_bits=8, probes=2)
        .select("query_id", "vec_id")
        .collect()
    }
    recall_single = len(single & exact)
    recall_multi = len(multi & exact)
    assert recall_multi >= recall_single, (recall_multi, recall_single)
    # the probe set genuinely widens retrieval on this corpus
    assert len(multi) >= len(single)


def test_multiprobe_recall_curve_is_monotone(spark, sf_dir):
    """More probes ⇒ superset candidates ⇒ recall@5 non-decreasing in
    n_probes, and n_retrieved non-decreasing; level 0 equals the plain
    single-bucket operating point."""
    from flink_application_spark.plans.registry import REGISTRY_GET

    rows = {
        r["n_probes"]: (r["n_retrieved"], r["n_hits"])
        for r in REGISTRY_GET("emb_multiprobe_recall_curve")
        .spark(spark, sf_dir)
        .collect()
    }
    levels = sorted(rows)
    assert levels == [0, 1, 2, 3, 4]
    for a, b in zip(levels, levels[1:]):
        assert rows[b][0] >= rows[a][0], (a, b, rows)
        assert rows[b][1] >= rows[a][1], (a, b, rows)
