"""The driver's correctness gate samples the FIRST 50 registered
queries. plans.registry._load_all orders imports deliberately so that
window covers every §2-mapped surface plus the newest oracle-bearing
queries; this test pins that design against accidental import-order
or module-membership changes.

The check runs in a FRESH subprocess: within a pytest run, other test
modules import plans modules directly (a legitimate thing for a unit
test to do), which registers those queries first in THIS process and
scrambles the order — but the driver always enters through
`_load_all` in a clean interpreter, so a clean interpreter is what the
guard must model."""

from __future__ import annotations

import functools
import json
import pathlib
import subprocess
import sys

from flink_application_spark.plans.registry import REGISTRY, _load_all

# Round-11 window contract: the non-negotiables are the round-11
# addition (IVF-routed graph-ANN serving — the driver must hash-check
# it the round it lands), the delete pair whose semantics changed this
# round (the back-link half — its r10 rows describe the old behavior),
# and the 13-name r05-evidence residue this rotation exists to clear
# (the full window is pinned exactly by
# test_first_50_is_exactly_the_curated_window).
MUST_BE_IN_WINDOW = {
    # the two queries ported onto the exact-integer trainers
    "emb_ivfadc_trained_topk",
    "emb_pca_top2_projection",
    # round-12 rotation: the r06 residue (oldest driver rows left)
    "emb_lsh_multiprobe_topk",
    "emb_multiprobe_recall_curve",
    "emb_radius_search",
    "emb_radius_search_ann",
    "source_quality_bootstrap_ci",
    # round-11 addition + the back-link semantics upgrade
    "emb_graph_ann_routed_search",
    "emb_graph_ann_delete_graph",
    "emb_graph_ann_delete_search",
    # the r05-evidence residue (oldest driver rows in the registry)
    "emb_semdedup_cluster_stats",
    "events_funnel_time_to_convert",
    "events_hll_det_rollup",
    "events_props_variant_stats",
    "events_seasonal_baseline_anomaly",
    "market_basket_part_pairs",
    "pipe_syntax_returnflag_stats",
    "semi_anti_join",
    "set_ops_customers",
    "source_boilerplate_ngrams",
    "source_segment_dup_profile",
    "stats_price_discount_correlation",
    "vocab_zipf_slope",
}

# Deliberate renames: the ONLY sanctioned way a driver-sampled name may
# leave the registry — each entry forfeits the old name's evidence
# because its replacement carries strictly stronger evidence (an
# oracle-backed hash check where the old name was rows-only) AND sits
# in the current SAMPLE_WINDOW so the driver re-establishes a row the
# same round the rename lands.
RENAMED = {
    # round 8: the float softmax profile (rows-only, r06 evidence)
    # became the exact-integer ridge trainer profile with a full
    # MATERIALIZED-CTE training-replay oracle.
    "emb_lr_train_profile": "emb_lr_train_exact_profile",
    # the float k-means, PQ, IVF and PCA trainers' queries, retired
    # onto their exact-integer twins (the last one's pc1 column)
    "emb_kmeans_fit_profile": "emb_kmeans_fit_exact_profile",
    "emb_pq_trained_adc_topk": "emb_pq_exact_trained_adc_topk",
    "emb_ivf_ann_topk": "emb_ivf_exact_trained_topk",
    "emb_pca_top_component": "emb_pca_top2_projection",
    # twins of one computation: the rows-only DataSketches HLL rollup
    # and the 12-round integer PageRank, each kept as its
    # oracle-backed, already driver-sampled twin
    "events_hll_user_rollup": "events_hll_det_rollup",
    "doc_simgraph_pagerank_exact": "doc_simgraph_pagerank",
}


# Driver-sampled union audit: every name in the round-1/round-2
# correctness files that is NOT re-sampled this round keeps its green
# evidence only if it still exists under the same name — pinned by
# test_no_duplicate_or_renamed_registrations below.


@functools.lru_cache(maxsize=1)
def _canonical_first_50() -> tuple[str, ...]:
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "from flink_application_spark.plans.registry import REGISTRY, _load_all;"
            "import json; _load_all(); print(json.dumps(list(REGISTRY)[:50]))",
        ],
        capture_output=True,
        text=True,
        check=True,
        cwd=str(pathlib.Path(__file__).resolve().parents[1]),
    )
    return tuple(json.loads(out.stdout.strip().splitlines()[-1]))


def test_critical_queries_inside_sample_window():
    first_50 = _canonical_first_50()
    missing = MUST_BE_IN_WINDOW - set(first_50)
    assert not missing, (
        f"{missing} fell outside the driver's first-50 sample window — "
        "check SAMPLE_WINDOW in plans.registry"
    )


def test_first_50_is_exactly_the_curated_window():
    from flink_application_spark.plans.registry import SAMPLE_WINDOW

    assert list(_canonical_first_50()) == SAMPLE_WINDOW


def test_no_duplicate_or_renamed_registrations():
    """Names are the driver's correctness keys — they must be unique
    (enforced at register()) and the core set must never be renamed."""
    _load_all()
    assert len(REGISTRY) == len(set(REGISTRY))
    assert MUST_BE_IN_WINDOW <= set(REGISTRY)


def test_previously_sampled_queries_still_registered():
    """Rotating the window only extends coverage if every query the
    driver ALREADY sampled green keeps existing under the same name —
    a rename or deletion silently forfeits its recorded evidence."""
    root = pathlib.Path(__file__).resolve().parents[1]
    sampled: set[str] = set()
    for f in root.glob("CORRECTNESS_r*.json"):
        sampled |= set(json.loads(f.read_text()))
    _load_all()
    missing = sampled - set(REGISTRY) - set(RENAMED)
    assert not missing, f"previously driver-sampled queries vanished: {missing}"
    # every sanctioned rename must resolve to a live, ORACLE-BACKED
    # replacement that the driver has sampled — in the current window
    # (the round the rename lands) or already green in a recorded
    # CORRECTNESS file (any later round) — otherwise the rename
    # forfeits evidence without replacing it
    from flink_application_spark.plans.registry import SAMPLE_WINDOW

    for old, new in RENAMED.items():
        assert old not in REGISTRY, f"renamed query {old} still registered"
        assert new in REGISTRY and REGISTRY[new].oracle is not None, new
        assert new in SAMPLE_WINDOW or new in sampled, (
            f"rename target {new} not driver-sampled"
        )
