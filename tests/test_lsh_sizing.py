"""Closing the loop from the LSH recall audit to parameter choice
(round-3 verdict item 6): `size_lsh_for_recall` picks (k, rows, bands)
from the 1−(1−t^r)^b curve; these tests pin the math AND validate the
chosen scheme against the audit's MEASURED recall on the fixture
corpus — theory is only trustworthy once the audit confirms it on
real data.
"""

from __future__ import annotations

import pytest

from flink_application_spark.operators.minhash import (
    DEFAULT_BANDS,
    DEFAULT_K,
    lsh_candidate_recall,
    size_lsh_for_recall,
)


def test_curve_value_for_registry_default_scheme():
    # k=8, bands=4 → r=2: 1-(1-0.5²)⁴ = 1-0.75⁴ = 0.68359375 exactly
    r = DEFAULT_K // DEFAULT_BANDS
    assert lsh_candidate_recall(0.5, r, DEFAULT_BANDS) == pytest.approx(
        1 - 0.75**4
    )


@pytest.mark.parametrize("t", [0.3, 0.5, 0.8, 0.9])
@pytest.mark.parametrize("target", [0.8, 0.9, 0.99])
def test_sizing_meets_target_and_is_minimal(t, target):
    k, r, b = size_lsh_for_recall(t, target)
    assert k == r * b
    assert lsh_candidate_recall(t, r, b) >= target
    # minimality: no scheme with smaller k reaches the target
    for r2 in range(1, 17):
        for b2 in range(1, k // r2 + 1):
            if r2 * b2 < k:
                assert lsh_candidate_recall(t, r2, b2) < target, (
                    f"(r={r2}, b={b2}) beats the chosen (r={r}, b={b})"
                )


def test_ties_prefer_steeper_curve():
    """Equal-k ties resolve to the larger rows-per-band (fewer
    sub-threshold candidates for the same recall)."""
    k, r, b = size_lsh_for_recall(0.5, 0.9)
    for r2 in range(r + 1, 17):
        if k % r2 == 0 and lsh_candidate_recall(0.5, r2, k // r2) >= 0.9:
            pytest.fail(f"steeper (r={r2}, b={k // r2}) at same k was available")


def test_sizing_rejects_impossible_targets():
    with pytest.raises(ValueError):
        size_lsh_for_recall(0.05, 0.999999, max_k=4)
    with pytest.raises(ValueError):
        size_lsh_for_recall(0.0, 0.9)
    with pytest.raises(ValueError):
        size_lsh_for_recall(0.5, 1.0)


def test_chosen_scheme_achieves_measured_recall_on_corpus(spark):
    """The verdict's done-bar: the (k, bands) chosen for target recall
    0.95 at the registry threshold achieves audit-MEASURED recall ≥
    target on sf0.01. Deterministic: the md5 hash family makes the
    whole audit reproducible, so this is a real pin, not a flake."""
    from flink_application_spark.plans.dedup_queries import (
        NEAR_DUP_THRESHOLD,
        lsh_recall_audit_frame,
    )
    from flink_application_spark.catalog import table

    target = 0.95
    k, r, b = size_lsh_for_recall(NEAR_DUP_THRESHOLD, target)
    docs = table(spark, "/root/testdata/sf0.01", "documents")
    row = lsh_recall_audit_frame(docs, k=k, bands=b).collect()[0]
    assert row.n_exact > 0, "fixture must contain planted near-dups"
    assert row.recall_ppm >= int(target * 1_000_000), (
        f"scheme (k={k}, r={r}, b={b}) measured recall "
        f"{row.recall_ppm / 1e6:.4f} < target {target}"
    )


def test_registry_default_scheme_measured_vs_curve(spark, sf_dir):
    """The curve's prediction at the threshold lower-bounds measured
    recall (true pairs all have s ≥ t and the curve is monotone) —
    checked for the registry's own (k=8, b=4) scheme."""
    from flink_application_spark.plans.dedup_queries import (
        NEAR_DUP_THRESHOLD,
        lsh_recall_audit_frame,
    )
    from flink_application_spark.catalog import table

    predicted = lsh_candidate_recall(
        NEAR_DUP_THRESHOLD, DEFAULT_K // DEFAULT_BANDS, DEFAULT_BANDS
    )
    docs = table(spark, sf_dir, "documents")
    row = lsh_recall_audit_frame(docs).collect()[0]
    assert row.n_exact > 0
    assert row.recall_ppm >= int(predicted * 1_000_000)
