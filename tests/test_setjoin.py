"""Prefix-filtered exact set-similarity join: must return the IDENTICAL
row set to the quadratic baseline (it's exact, not approximate), with
no cartesian product in the plan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_application_spark.catalog import table
from flink_application_spark.operators.minhash import jaccard_column, with_shingles
from flink_application_spark.operators.setjoin import jaccard_similarity_join


def _brute(docs, t):
    sh = with_shingles(docs).select("doc_id", "shingles")
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", jaccard_column(F.col("sh_a"), F.col("sh_b")).alias("jaccard")
        )
        .filter(F.col("jaccard") >= t)
    )


def _rows(df):
    return {(r.id_a, r.id_b, r.jaccard) for r in df.collect()}


@pytest.fixture(scope="module")
def synth_docs(spark):
    """Corpus with planted near-dups at varied overlap levels plus
    shared boilerplate (a hot-shingle stressor: every doc shares the
    same header trigram, which must NOT create quadratic candidates)."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = []
    for i in range(40):
        words = base.split() + [f"uniq{i}a", f"uniq{i}b", f"uniq{i}c"]
        rows.append((i, "common header text " + " ".join(words)))
    # exact dup + one-word-swap near dup of doc 0
    rows.append((100, rows[0][1]))
    rows.append((101, rows[0][1].replace("kappa", "lambda")))
    return spark.createDataFrame(rows, "doc_id bigint, text string")


@pytest.mark.parametrize("t", [0.3, 0.5, 0.8, 1.0])
def test_matches_bruteforce_exactly(spark, synth_docs, t):
    assert _rows(jaccard_similarity_join(synth_docs, t)) == _rows(_brute(synth_docs, t))


def test_exact_dup_pair_found(spark, synth_docs):
    got = _rows(jaccard_similarity_join(synth_docs, 1.0))
    assert (0, 100, 1.0) in got


def test_matches_bruteforce_on_testdata(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    exact = _rows(jaccard_similarity_join(docs, 0.5))
    assert exact == _rows(_brute(docs, 0.5))
    assert len(exact) > 0, "threshold too high for testdata — weak test"


def test_no_cartesian_in_plan(spark, synth_docs):
    plan = (
        jaccard_similarity_join(synth_docs, 0.5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_threshold_validation(spark, synth_docs):
    with pytest.raises(ValueError, match="threshold"):
        jaccard_similarity_join(synth_docs, 0.0)


def test_null_text_docs_excluded(spark, synth_docs):
    """NULL-text docs are dropped up front (documented) — they must
    neither crash the join nor appear in any pair."""
    with_nulls = synth_docs.union(
        spark.createDataFrame([(900, None), (901, None)], "doc_id bigint, text string")
    )
    got = _rows(jaccard_similarity_join(with_nulls, 0.5))
    assert got == _rows(jaccard_similarity_join(synth_docs, 0.5))
    assert not any(900 in (a, b) or 901 in (a, b) for a, b, _ in got)

# --- containment (asymmetric) ----------------------------------------------

from flink_application_spark.operators.setjoin import (  # noqa: E402
    containment_similarity_join,
)


def _brute_containment(docs, t):
    sh = with_shingles(docs).select("doc_id", "shingles")
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    c = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    return (
        a.join(b, F.col("id_a") != F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(c.cast("double") / F.size("sh_a"), 6).alias("containment"),
        )
        .filter(F.col("containment") >= t)
    )


def _crows(df):
    return {(r.id_a, r.id_b, r.containment) for r in df.collect()}


@pytest.fixture(scope="module")
def quote_docs(spark, synth_docs):
    """synth_docs plus a long doc that quotes doc 3 wholesale: the
    quoted->container pair has containment ~1 but Jaccard well below
    any near-dup threshold — the asymmetric case the join exists for."""
    quoted = synth_docs.filter(F.col("doc_id") == 3).collect()[0].text
    filler = " ".join(f"pad{i} filler{i} extra{i}" for i in range(30))
    return synth_docs.union(
        spark.createDataFrame(
            [(200, quoted + " " + filler)], "doc_id bigint, text string"
        )
    )


@pytest.mark.parametrize("t", [0.5, 0.8, 1.0])
def test_containment_matches_bruteforce(spark, quote_docs, t):
    assert _crows(containment_similarity_join(quote_docs, t)) == _crows(
        _brute_containment(quote_docs, t)
    )


def test_containment_is_asymmetric(spark, quote_docs):
    """The quoted doc is contained in the container (high C), but the
    container is NOT contained in the quoted doc, and the pair is
    invisible to the symmetric Jaccard join at the same threshold."""
    got = _crows(containment_similarity_join(quote_docs, 0.8))
    assert any(a == 3 and b == 200 for a, b, _ in got)
    assert not any(a == 200 and b == 3 for a, b, _ in got)
    jac = _rows(jaccard_similarity_join(quote_docs, 0.8))
    assert not any({a, b} == {3, 200} for a, b, _ in jac)


def test_containment_no_cartesian_in_plan(spark, quote_docs):
    plan = (
        containment_similarity_join(quote_docs, 0.8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lsh_recall_audit_invariants(spark, sf_dir):
    """verified ⊆ exact and verified ⊆ candidates are structural; the
    ppm ratios must respect them."""
    from flink_application_spark.plans.registry import REGISTRY_GET

    r = REGISTRY_GET("doc_lsh_recall_audit").spark(spark, sf_dir).collect()[0]
    assert r.n_verified <= r.n_exact
    assert r.n_verified <= r.n_candidates
    assert 0 <= r.recall_ppm <= 1_000_000
    assert 0 <= r.precision_ppm <= 1_000_000
    assert r.n_exact > 0, "testdata must contain planted near-dups"


def test_lsh_recall_audit_null_text_docs(spark):
    """Round-3 ADVICE regression: NULL-text docs get [NULL] shingle
    arrays whose band keys all collapse to md5(''), so every NULL-text
    pair became an LSH candidate verifying at jaccard 1.0 while the
    exact join excluded them — verified ⊄ exact, recall_ppm > 1e6.
    The audit must exclude NULL text on BOTH sides."""
    from flink_application_spark.plans.dedup_queries import lsh_recall_audit_frame

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, None),
            (4, None),
            (5, None),
        ],
        "doc_id bigint, text string",
    )
    r = lsh_recall_audit_frame(docs).collect()[0]
    assert r.n_verified <= r.n_exact, "verified ⊆ exact must survive NULL text"
    assert r.n_verified <= r.n_candidates
    assert 0 <= r.recall_ppm <= 1_000_000
    assert 0 <= r.precision_ppm <= 1_000_000
