#!/usr/bin/env python
"""Headline-query timer: the ``HEADLINE`` queries on the scale-factor
directory $SPARK_GRAFT_SF_DIR (default: the test data's sf0.1) on
local[$SPARK_GRAFT_CPUS].

Every query first runs once on the sibling sf0.001 directory (so none
of the timed scale factor's data or page cache is touched) to warm the
JVM, JIT and codegen on the same plans. Each is then timed 3 times in
the warm session, plan build plus execution to the ``noop`` sink, and
the median is kept. The ``noop`` sink computes every output column,
where ``.count()`` lets Catalyst prune them. The parquet scan is not
cached between runs, so each number includes its own IO.

Prints one JSON line and writes no file:

  {"metric": "headline_queries_total_wall", "value": <sum of medians>,
   "unit": "sec", "queries": {<name>: <median>}, "sf": <scale factor>}
"""

from __future__ import annotations

import json
import os
import statistics
import time

HEADLINE = [
    # the reference pipeline
    "cdr_enrichment_full",
    # TPC-H-style SQL surface
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier",
    "tpch_q10_returned_items",
    "window_topn_per_group",
    "events_sessionization",
    # LLM-data-pipeline operators
    "doc_exact_dedup_groups",
    "doc_near_dup_pairs_minhash_lsh",
    "doc_dedup_pipeline_stats",
    "doc_quality_scores",
    "doc_pii_redaction",
    "doc_bm25_search",
    "doc_jaccard_similarity_join",
    "emb_cosine_topk_bruteforce",
    "emb_pca_gram",
    "corpus_curation_funnel",
    "doc_bigram_lm_score",
    "emb_kmeans_assign",
    # the CEP automaton (pattern matching over the events table)
    "events_cep_funnel_matches",
    "emb_semdedup_flags",
    "doc_dsir_log_weights",
    "doc_chunk_windows",
    "vocab_bpe_pair_counts",
    "doc_winnowing_fingerprints",
    "emb_ivfadc_topk",
    "emb_knn_classify_ann",
    "doc_minhash_estimate_vs_exact",
    "doc_stratified_sample_neyman",
    # trained codebooks, timed beside the seeded emb_ivfadc_topk
    "emb_ivfadc_trained_topk",
    # one scoring pass for every probe level
    "emb_ivf_recall_curve",
    "doc_segment_dedup_scrub",
    "events_funnel_time_to_convert",
    "corpus_pack_spans",
]

WARM_SF = "sf0.001"
RUNS = 3


def time_query(spark, spec, sf_dir: str) -> float:
    """Seconds to build ``spec``'s plan and write it to the noop sink."""
    t0 = time.perf_counter()
    spec.spark(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def result_line(timings: dict[str, float], sf: float) -> str:
    """The one JSON line bench.py prints."""
    return json.dumps(
        {
            "metric": "headline_queries_total_wall",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "queries": timings,
            "sf": sf,
        }
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")

    from flink_application_spark.plans.registry import REGISTRY_GET
    from flink_application_spark.session import get_spark

    # ERROR-only logs and no progress bars: stdout carries the JSON line
    spark = get_spark("bench", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    specs = {name: REGISTRY_GET(name) for name in HEADLINE}
    warm_dir = os.path.join(os.path.dirname(os.path.abspath(sf_dir)), WARM_SF)
    if os.path.isdir(warm_dir) and warm_dir != os.path.abspath(sf_dir):
        for spec in specs.values():
            time_query(spark, spec, warm_dir)
    timings = {
        name: round(statistics.median(time_query(spark, spec, sf_dir) for _ in range(RUNS)), 3)
        for name, spec in specs.items()
    }
    print(result_line(timings, sf), flush=True)


if __name__ == "__main__":
    main()
