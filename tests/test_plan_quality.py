"""Physical-plan audits over the whole query registry.

Correctness is the oracle harness's job; these tests pin the *plans*:
no accidental cartesian products, dimension joins broadcast, filters
reaching the parquet scan, salted/two-stage shapes present. A
regression that keeps results right but degrades the plan (the classic
silent 100×-at-scale bug) fails here.

Slow tier (round-9 verdict item 8): the cartesian guard executes all
~250 registered queries to audit their FINAL adaptive plans — ~6 min
of the default tier's wall for a registry-wide regression net that
the per-round PLAN_AUDIT sweep also casts. Both tiers stay green
before shipping; the default tier keeps the per-operator units and
the full oracle-parity matrix.
"""

from __future__ import annotations

import pytest

from flink_application_spark.plans import registry

pytestmark = pytest.mark.slow


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# Quadratic-by-design queries. Two classes remain (round-2 verdict
# item 5 closed the rest by REGISTERING the scale paths):
#
# (a) exact-oracle baselines whose 100 TB path is now a registered
#     `_ann`/thresholded twin (plans/ann_twins.py; agreement contracts
#     in tests/test_ivf.py + tests/test_ann_twins.py) — the quadratic
#     form is the oracle DuckDB can reproduce, the twin is the entry a
#     deployment runs;
# (b) evals that compare against the exact ranking BY DEFINITION
#     (recall/nDCG) — nothing to flip.
INTENTIONALLY_QUADRATIC = {
    # (a) exact oracles with registered scale twins
    "doc_ngram_jaccard_topk",   # twin: doc_jaccard_topk_thresholded (prefix-filtered setjoin)
    "emb_cosine_topk_bruteforce",  # twin: emb_cosine_topk_ann (+ emb_ivf_full_probe_exact oracle)
    "emb_knn_classify",  # twin: emb_knn_classify_ann
    "emb_mmr_diversified_topk",  # twin: emb_mmr_diversified_topk_ann
    "emb_contrastive_triplets",  # twin: emb_contrastive_triplets_ann
    "emb_label_noise_knn",  # twin: emb_label_noise_knn_ann
    "doc_text_search_topk",  # twin: doc_text_search_topk_ann
    "emb_pq_adc_topk",  # twin: emb_ivfadc_topk (probe-pruned ADC, oracle-checked)
    "emb_pq_exact_trained_adc_topk",  # flat-PQ ADC by design (round 8); probe-pruned exact sibling is emb_ivf_exact_trained_topk
    "emb_binary_hamming_topk",  # binary codes FLAT scan by design (two popcounts/candidate — FAISS IndexBinaryFlat)
    "emb_radius_search",  # twin: emb_radius_search_ann (IVF probe candidates, same radius filter)
    # (b) exact-ranking evals by definition
    "emb_matryoshka_recall",
    "emb_lsh_ndcg",
    "emb_ivf_recall_curve",  # recall@k vs the exact ranking IS the eval
    "emb_multiprobe_recall_curve",  # same class-b shape as
    # emb_ivf_recall_curve (its docstring always said so); absent here
    # only because the old Arrow exact side hid the |Q|·|C| scan inside
    # MapInPandas where the canary cannot see it — the round-12 fold
    # form plans the same work as an explicit broadcast NLJ
    "emb_graph_ann_recall",  # recall vs the exact ranking IS the eval; the
    # "quadratic" side is the LINEAR n_queries·n broadcast flat scan
    # (exact_topk_int) — the serving path is emb_graph_ann_search_topk
    # emb_cosine_near_dup_pairs left OUT deliberately: since the banded
    # sign-LSH rework it must plan equi-joins only — a cartesian there
    # is a regression this test exists to catch.
}

# Scalar-aggregate subqueries expressed as a condition-less join against a
# broadcast 1-row aggregate: the "nested loop" degenerates to appending a
# constant column — O(n·1), correct at any scale. Value = max number of
# such 1-row appends the plan may contain.
SCALAR_SUBQUERY_BROADCAST = {
    "tpch_q22_global_sales_opportunity": 1,  # avg(c_acctbal) bound
    "doc_tfidf_topk": 1,  # corpus size N
    "tpch_q11_important_parts": 1,  # revenue-fraction threshold
    "corpus_mixture_plan": 1,  # global min token floor
    "doc_dedup_pipeline_stats": 2,  # n_raw × n_unique × pair-stats combine
    "doc_bm25_search": 1,  # corpus (N, avgdl) stats row
    "events_key_skew_profile": 1,  # total event count
    "customer_rfm_segmentation": 1,  # recency anchor date
    "corpus_curation_funnel": 3,  # n_input × n_gated × n_nonempty 1-row appends
    "doc_bigram_lm_score": 1,  # vocab-size V scalar broadcast into probs
    "corpus_temperature_mixture": 1,  # (z, budget) normalizer row
    "doc_dsir_log_weights": 2,  # Nt and Nr token-total 1-row appends
    "doc_dsir_selection": 2,  # same estimator feeding the rank stage
    "doc_curriculum_buckets": 1,  # inherits the LM's vocab-size V scalar append
    "corpus_drift_psi": 3,  # one (tb, tc, k) totals row appended per PSI feature
    "corpus_mixture_materialized": 1,  # inherits the mixture plan's (z, budget) row
    "doc_bigram_pmi": 2,  # n_uni × n_bi 1-row totals, combined then appended
    "vocab_gini_concentration": 1,  # (V, N) vocab-total 1-row append
    "doc_stratified_sample_neyman": 1,  # Neyman normalizer Σ(N_h·σ_h) 1-row append
    "doc_hybrid_rrf_search": 1,  # inherits doc_bm25_search's (N, avgdl) stats row
    "doc_lsh_recall_audit": 2,  # n_exact × n_verified × n_candidates 1-row combine
    "emb_knn_graph_recall": 1,  # exact-graph totals × matched-edges 1-row combine
    "corpus_pack_stats": 1,  # bin-totals × doc-crossing 1-row combine
}


# Registry-wide ceiling on TRUE physical shuffle count per query
# (scripts/plan_audit.physical_counts — one count per plan NODE, so a
# funnel scanning one cached frame 50 times no longer reads as 50× its
# real shuffles; round-5 verdict item 5). Round-6 measured state:
# avg 2.2 exchanges, max 25 (doc_lsh_recall_audit — exact-vs-verified
# recall audit legitimately combines two pair pipelines). A query
# breaching 32 physical shuffles is a plan regression, not a new
# feature.
PHYSICAL_EXCHANGE_CEILING = 32


@pytest.mark.parametrize("name", sorted(registry.all_queries()))
def test_no_accidental_cartesian(spark, sf_dir, name):
    import pathlib
    import sys

    sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))
    from scripts.plan_audit import physical_counts

    df = registry.REGISTRY_GET(name).spark(spark, sf_dir)
    plan = _physical(df)
    counts = physical_counts(df._jdf.queryExecution().executedPlan())
    assert counts["n_exchange"] <= PHYSICAL_EXCHANGE_CEILING, (
        f"{name} plans {counts['n_exchange']} physical shuffles "
        f"(ceiling {PHYSICAL_EXCHANGE_CEILING})"
    )
    if name in INTENTIONALLY_QUADRATIC:
        return
    assert counts["n_cartesian"] == 0, f"{name} plans a cartesian product"
    if name in SCALAR_SUBQUERY_BROADCAST:
        # NLJ allowed only as the 1-row scalar-subquery append; the build
        # side must be an aggregate, not a table scan.
        assert counts["n_nlj"] <= SCALAR_SUBQUERY_BROADCAST[name], plan
        return
    assert counts["n_nlj"] == 0, f"{name} degraded to nested-loop join"


def test_pushdown_reaches_parquet_scan(spark, sf_dir):
    plan = _physical(registry.REGISTRY_GET("tpch_q6_revenue_forecast").spark(spark, sf_dir))
    assert "PushedFilters: [" in plan
    # at least one non-empty pushed filter on l_shipdate / l_discount / l_quantity
    assert "IsNotNull" in plan or "GreaterThan" in plan or "LessThan" in plan


def test_column_pruning_reaches_scan(spark, sf_dir):
    plan = _physical(registry.REGISTRY_GET("tpch_q1_pricing_summary").spark(spark, sf_dir))
    # ReadSchema must not include unused lineitem columns
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read and "l_partkey" not in read[0] and "l_suppkey" not in read[0]


def test_cdr_dim_joins_broadcast(spark, sf_dir):
    plan = _physical(registry.REGISTRY_GET("cdr_enrichment_full").spark(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_salted_agg_is_two_stage(spark, sf_dir):
    plan = _physical(registry.REGISTRY_GET("salted_agg_lineitem").spark(spark, sf_dir))
    # pmod salt key present and two HashAggregate pairs (partial+final ×2)
    assert "pmod" in plan
    assert plan.count("HashAggregate") >= 4


def test_whole_stage_codegen_in_hot_path(spark, sf_dir):
    df = registry.REGISTRY_GET("tpch_q1_pricing_summary").spark(spark, sf_dir)
    # AQE: the finalized plan exists only after executing THIS
    # DataFrame's QueryExecution (count() would build a separate one),
    # and marks whole-stage-codegen'd operators with a '*' prefix.
    df.collect()
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    txt = buf.getvalue()
    assert "isFinalPlan=false" not in txt
    assert "* HashAggregate" in txt and "* Filter" in txt


def test_no_expensive_expression_pushed_to_scan_stage(spark, sf_dir):
    """Regression: null-intolerant predicates on a derived column make
    Catalyst infer IsNotNull(col) and push the column's ENTIRE defining
    expression below every exchange into the (often single-task) scan
    stage. For doc_simhash_near_dup_pairs that inlined the 60-bit
    signature fold into the parquet scan — 533 s vs ~10 s at sf0.1.
    The persist() barrier in the query must keep the scan-stage filter
    free of HOF machinery."""
    df = registry.REGISTRY_GET("doc_simhash_near_dup_pairs").spark(spark, sf_dir)
    plan = _physical(df)
    scan_filters = [
        block
        for block in plan.split("\n\n")
        if "Scan parquet" in block or ("Filter" in block and "Condition" in block)
    ]
    for block in scan_filters:
        if "Scan parquet" in block and "documents.parquet" in block:
            continue
        if "Condition" in block and "documents" not in block:
            assert "zip_with" not in block and "aggregate(" not in block, (
                "signature expression leaked into a pre-exchange filter:\n" + block
            )


def test_runtime_bloom_filter_join(spark):
    """AQE runtime filtering: a selective filter on the dim side of a
    shuffle join injects a bloom_filter_agg on the fact side, so fact
    rows that cannot match are dropped BEFORE the shuffle. At 100 TB
    the defaults fire on their own (application side > 10 GB scan);
    locally we zero the application-side threshold to pin the shape.
    Broadcast joins are disabled because a broadcast hash join already
    filters at the probe and needs no bloom filter."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        from pyspark.sql import functions as F

        li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        sup = spark.read.parquet("/root/testdata/sf0.001/supplier.parquet").filter(
            F.col("s_acctbal") > 9990
        )
        j = li.join(sup, li.l_suppkey == sup.s_suppkey).groupBy("s_name").count()
        plan = _physical(j)
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_kmeans_assignment_is_scan_local(spark, sf_dir):
    """The k-means assignment pass claims zero exchanges (broadcast
    literal centroids, per-row folds) — pin it: no Exchange anywhere
    in the physical plan."""
    df = registry.REGISTRY_GET("emb_kmeans_assign").spark(spark, sf_dir)
    plan = _physical(df)
    assert "Exchange" not in plan, plan
