#!/usr/bin/env python
"""Routed vs fixed graph-ANN entry points — the round-10 verdict
item-5 readout (recorded in SCALE.md).

For each hop budget h in 0..max_hops, run the beam search over the
SAME memoized NN-Descent graph twice — once from the fixed
smallest-vec_id entry set (layer-0-only GNNS), once from the
IVF-routed per-cluster entries (`graph_ann_routed_search_topk`) — and
score recall@k against the exact linear scan for the SAME query set.
The claim under test: routing buys recall at LOWER hop budgets (the
beam starts inside the right region), which is exactly the cost that
grows with corpus size for fixed entries.

Usage: python scripts/routed_entry_compare.py [sf_dir] [n_queries]
Prints one line per (variant, hops): recall@k, mean hits, wall.
"""

from __future__ import annotations

import sys
import time


sys.path.insert(0, "/root/repo")

from flink_application_spark.operators.graph_ann import (  # noqa: E402
    exact_topk_int,
    graph_ann_routed_search_topk,
    graph_ann_search_topk,
)
from flink_application_spark.plans._memo import (  # noqa: E402
    kmeans_fit_exact_cached,
    nn_descent_graph_cached,
    nonnull_embeddings,
)
from flink_application_spark.session import get_spark  # noqa: E402

_K, _BEAM, _MAX_HOPS = 6, 8, 3


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    n_queries = int(sys.argv[2]) if len(sys.argv) > 2 else 50
    spark = get_spark("routed-entry-compare")
    emb = nonnull_embeddings(spark, sf_dir)
    g, _ = nn_descent_graph_cached(spark, emb, sf_dir, _K, 3)
    g = g.persist()
    g.count()
    cents, _ = kmeans_fit_exact_cached(spark, emb, sf_dir, 8, 5)
    exact = {
        (r["query_id"], r["vec_id"])
        for r in exact_topk_int(emb, k=_K, n_queries=n_queries).collect()
    }
    nq = len({q for q, _ in exact})
    print(f"sf={sf_dir} n_queries={nq} k={_K} beam={_BEAM}")
    for hops in range(_MAX_HOPS + 1):
        for variant in ("fixed", "routed"):
            t0 = time.perf_counter()
            if variant == "fixed":
                got = graph_ann_search_topk(
                    emb, k=_K, beam=_BEAM, hops=hops, n_queries=n_queries,
                    graph=g,
                )
            else:
                got = graph_ann_routed_search_topk(
                    emb, cents, k=_K, beam=_BEAM, hops=hops,
                    n_queries=n_queries, graph=g,
                )
            hits = sum(
                (r["query_id"], r["vec_id"]) in exact for r in got.collect()
            )
            wall = time.perf_counter() - t0
            print(
                f"{variant:6s} hops={hops} recall@{_K}="
                f"{hits / (nq * _K):.3f} hits={hits}/{nq * _K} "
                f"wall={wall:.2f}s",
                flush=True,
            )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
