#!/usr/bin/env python
"""Measured scaling evidence: time flagship operators on 1x/2x/4x/8x
replicas of the sf0.1 documents table at FIXED parallelism and print
the wall-clock curve. A scale-safe plan (hash aggs, banded LSH, prefix
joins — everything SCALE.md argues is linear) should grow ~linearly in
rows once past fixed overhead; superlinear growth at 8x is exactly the
defect that would melt a 1000-executor run at 100 TB.

Replicas shift doc_id by a large stride (no id collisions) and prefix
each replica's text with a replica token (shingle/fingerprint spaces
stay disjoint across replicas, so the dedup workloads scale in
corpus size WITHOUT degenerating into one giant duplicate family —
the adversarial mega-bucket case is covered separately by the LSH
bucket-cap guard rail, operators/minhash.bucket_self_pairs).

Usage: python scripts/scale_sweep.py [sf_dir] [replicas...]
Prints one line per (operator, replicas) and a JSON summary last.
"""

from __future__ import annotations

import json
import sys
import time
from functools import reduce

sys.path.insert(0, "/root/repo")

from pyspark.sql import DataFrame, functions as F  # noqa: E402

_STRIDE = 10_000_000


def replicate(docs: DataFrame, r: int) -> DataFrame:
    parts = []
    for i in range(r):
        p = docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * _STRIDE))
        if i:
            # suffix EVERY token with the replica id: shingle and
            # fingerprint spaces are fully disjoint across replicas, so
            # the dedup workloads grow linearly in corpus size (a mere
            # text prefix leaves replicas ~identical and explodes
            # cross-replica near-dup pairs quadratically — measured
            # 256 → 156k pairs at 8x before this fix)
            p = p.withColumn(
                "text", F.regexp_replace(F.col("text"), r"(\S+)", f"$1x{i}")
            )
        parts.append(p)
    return reduce(DataFrame.unionByName, parts)


def op_exact_dedup(docs: DataFrame) -> int:
    from flink_application_spark.functions.text import fingerprint

    return (
        docs.select(fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )


def op_lsh_near_dup(docs: DataFrame) -> int:
    from flink_application_spark.operators.minhash import verified_near_dup_pairs

    return verified_near_dup_pairs(docs, threshold=0.5).count()


def op_segment_scrub(docs: DataFrame) -> int:
    from flink_application_spark.operators.dedup import segment_dedup_scrub

    return segment_dedup_scrub(docs, seg=16).count()


def op_quality_gate(docs: DataFrame) -> int:
    from flink_application_spark.functions.text import quality_score

    return (
        docs.select(quality_score(F.col("text")).alias("q"))
        .filter(F.col("q") > 0.5)
        .count()
    )


OPS = {
    "exact_dedup_hash_agg": op_exact_dedup,
    "lsh_near_dup_pipeline": op_lsh_near_dup,
    "segment_dedup_scrub": op_segment_scrub,
    "quality_score_scan": op_quality_gate,
}

# ANN flagship queries swept on replicated EMBEDDINGS (round-5 verdict
# item 8). Replicas shift vec_id by the stride; vectors are left
# identical across replicas — retrieval/index COST scales with corpus
# row count regardless of vector values (assignment, probe join, ADC
# table lookups are all per-row), and unlike the text dedup ops nothing
# here pair-joins duplicates, so identical vectors cannot degenerate
# the plan. The registered query runs VERBATIM against a temp sf_dir
# holding the replicated table, so the sweep times exactly what the
# driver gate runs (exact-integer trained quantizers + probe equi-join
# + ADC top-k / multi-probe bucket join).
EMB_QUERIES = [
    "emb_ivfadc_trained_topk",
    "emb_lsh_multiprobe_topk",
    # round-8 (verdict item 5): the exact-integer trainers keep the
    # float trainers' scale shape — broadcast-literal
    # assignment passes + posexplode partial-agg reductions (kmeans),
    # chunked int64 Gram partials (pca); replicated identical vectors
    # exercise exactly the per-row cost that matters
    "emb_kmeans_fit_exact_profile",
    "emb_pca_power_exact",
    # round-9: the exact NN-Descent graph build (per-round candidate
    # volume bounded by n·(2k)²; Arrow int64 pair scoring) and the
    # beam search served from it (per-hop frontier |Q|·beam —
    # corpus-size-independent once the graph is built, but the build
    # is inside the registered query so the sweep times both)
    "emb_knn_graph_nndescent",
    "emb_graph_ann_search_topk",
    # round-10: incremental insertion — base NN-Descent build over
    # n−4 vectors + 2 micro-batch waves (wave work is bounded by
    # |W|·beam·(k+1) candidates per hop, so growth should track the
    # base build, i.e. the NN-Descent row above) — and deletion with
    # local repair (full build + prune + one repair beam chain; the
    # affected set is ≤ |D|·k in-neighbors regardless of corpus size)
    "emb_graph_ann_insert_graph",
    "emb_graph_ann_delete_graph",
    # round-11: deletion now includes the back-link re-prune (one more
    # reversed equi-join + window over the repaired region — still
    # bounded by the affected set) and the IVF-routed serving search
    # (adds the exact k-means fit + per-cluster entry window; routing
    # itself is a broadcast join, corpus-size-independent per query)
    "emb_graph_ann_routed_search",
]

# Round-6 additions swept on replicated DOCUMENTS (round-6 verdict
# item 6): the packing prefix sum (two-phase scan — the collect is one
# row per partition regardless of corpus size) and the deterministic
# Poisson bootstrap (integer partials, one hash agg). Registered
# queries run VERBATIM against a temp sf_dir, like the emb sweep.
DOC_QUERIES = [
    "corpus_pack_spans",
    "source_quality_bootstrap_ci",
    # round-8: exact-integer PageRank over the near-dup graph — the
    # replica token-suffix keeps shingle spaces disjoint, so the graph
    # is r disjoint copies and edges grow linearly
    "doc_simgraph_pagerank",
]

# Exact twins whose DuckDB oracle wall is recorded SEPARATELY
# (round-7 verdict item 5: oracle cost must never silently gate
# registry growth — a MATERIALIZED-CTE unroll that is cheap at sf0.01
# could still blow up against a replicated corpus; measure it).
ORACLE_TIMED = {
    "emb_kmeans_fit_exact_profile",
    "emb_pca_power_exact",
    "doc_simgraph_pagerank",
    # round-9 unrolled oracles (authored MATERIALIZED from the start;
    # the kmeans-replay lesson says measure, don't assume)
    "emb_knn_graph_nndescent",
    "emb_graph_ann_search_topk",
    "emb_graph_ann_insert_graph",
    "emb_graph_ann_delete_graph",
    # round-11: NN-Descent unroll + prefixed kmeans unroll + routing
    "emb_graph_ann_routed_search",
}


def _clear_training_memos() -> None:
    """Session memos (plans/_memo, lr_queries._FIT_CACHE) make a
    registered query nearly free after its warmup run — correct for
    the driver window (one build serves many queries), WRONG for a
    scale sweep: the round-9 first sweep recorded x1 walls from the
    memo replay (kmeans 0.56 s, knn_graph 0.77 s) against cold x2+
    walls, corrupting growth_vs_linear. Clear them so every timed
    point pays the training it claims to measure."""
    from flink_application_spark.plans import _memo, lr_queries

    _memo._KMEANS.clear()
    _memo._GRAPH.clear()
    _memo._NVEC.clear()
    lr_queries._FIT_CACHE.clear()


def _time_oracle(name: str, rep_dir: str, results: dict, r: int) -> None:
    import glob as _glob
    import os as _os

    import duckdb

    from flink_application_spark.plans.registry import REGISTRY_GET

    spec = REGISTRY_GET(name)
    # register only the tables the replica dir holds (duckdb validates
    # view paths eagerly, so the full-catalog duckdb_connect would
    # fail on the absent tables)
    con = duckdb.connect()
    for f in _glob.glob(_os.path.join(rep_dir, "*.parquet")):
        # Spark writes each replica table as a DIRECTORY of part files
        pat = f"{f}/*.parquet" if _os.path.isdir(f) else f
        con.execute(
            f"CREATE VIEW {_os.path.basename(f)[:-8]} AS"
            f" SELECT * FROM read_parquet('{pat}')"
        )
    t0 = time.time()
    nrows = len(con.sql(spec.oracle).fetchall())
    dt = round(time.time() - t0, 3)
    con.close()
    key = f"{name}__oracle_duckdb"
    results.setdefault(key, {})[r] = dt
    print(f"{key:44s} x{r}: {dt:7.3f} s  (result rows {nrows})", flush=True)


def sweep_doc_queries(spark, sf_dir: str, replicas: list[int]) -> dict:
    import shutil
    import tempfile

    from flink_application_spark.catalog import table
    from flink_application_spark.plans.registry import REGISTRY_GET

    docs = table(spark, sf_dir, "documents")
    results: dict[str, dict[int, float]] = {name: {} for name in DOC_QUERIES}
    root = tempfile.mkdtemp(prefix="scale_sweep_doc_")
    try:
        for r in replicas:
            rep_dir = f"{root}/x{r}"
            replicate(docs, r).write.parquet(f"{rep_dir}/documents.parquet")
            for name in DOC_QUERIES:
                spec = REGISTRY_GET(name)
                if r == replicas[0]:
                    spec.spark(spark, rep_dir).count()  # warm codegen
                _clear_training_memos()  # timed run pays training honestly
                t0 = time.time()
                n = spec.spark(spark, rep_dir).count()
                dt = round(time.time() - t0, 3)
                results[name][r] = dt
                print(
                    f"{name:26s} x{r}: {dt:7.3f} s  (result rows {n})",
                    flush=True,
                )
                if name in ORACLE_TIMED:
                    _time_oracle(name, rep_dir, results, r)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return results


def replicate_emb(emb: DataFrame, r: int) -> DataFrame:
    parts = [
        emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * _STRIDE))
        for i in range(r)
    ]
    return reduce(DataFrame.unionByName, parts)


def sweep_emb_queries(spark, sf_dir: str, replicas: list[int]) -> dict:
    import shutil
    import tempfile

    from flink_application_spark.catalog import table
    from flink_application_spark.plans.registry import REGISTRY_GET

    emb = table(spark, sf_dir, "embeddings")
    results: dict[str, dict[int, float]] = {name: {} for name in EMB_QUERIES}
    root = tempfile.mkdtemp(prefix="scale_sweep_emb_")
    try:
        for r in replicas:
            rep_dir = f"{root}/x{r}"
            replicate_emb(emb, r).write.parquet(f"{rep_dir}/embeddings.parquet")
            for name in EMB_QUERIES:
                spec = REGISTRY_GET(name)
                if r == replicas[0]:
                    spec.spark(spark, rep_dir).count()  # warm codegen
                _clear_training_memos()  # timed run pays training honestly
                t0 = time.time()
                n = spec.spark(spark, rep_dir).count()
                dt = round(time.time() - t0, 3)
                results[name][r] = dt
                print(
                    f"{name:26s} x{r}: {dt:7.3f} s  (result rows {n})",
                    flush=True,
                )
                if name in ORACLE_TIMED:
                    _time_oracle(name, rep_dir, results, r)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return results


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    replicas = [int(a) for a in sys.argv[2:]] or [1, 2, 4, 8]

    from flink_application_spark.catalog import table
    from flink_application_spark.session import get_spark

    spark = get_spark(
        "scale-sweep", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    docs = table(spark, sf_dir, "documents")

    results: dict[str, dict[int, float]] = {}
    for name, op in OPS.items():
        op(replicate(docs, 1))  # warm codegen/JIT on the same plan shape
        results[name] = {}
        for r in replicas:
            frame = replicate(docs, r)
            t0 = time.time()
            n = op(frame)
            dt = round(time.time() - t0, 3)
            results[name][r] = dt
            print(f"{name:26s} x{r}: {dt:7.3f} s  (result rows {n})", flush=True)
    results.update(sweep_emb_queries(spark, sf_dir, replicas))
    results.update(sweep_doc_queries(spark, sf_dir, replicas))
    summary = {
        name: {
            "walls": walls,
            # slope proxy: wall(max)/wall(1) vs max replica count — ~1.0
            # means perfectly linear scaling, >1 superlinear
            "growth_vs_linear": round(
                (walls[max(replicas)] / walls[replicas[0]]) / (max(replicas) / replicas[0]),
                3,
            ),
        }
        for name, walls in results.items()
    }
    print(json.dumps({"sf_dir": sf_dir, "replicas": replicas, "ops": summary}))


if __name__ == "__main__":
    main()
