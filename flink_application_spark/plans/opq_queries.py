"""OPQ-vs-PQ quantization comparison — does the rotation pay for
itself on THIS corpus? (The operator-level measurement loop, like the
LSH/IVF recall audits and the Bloom FPR audit: measure before trusting
a quantizer config at scale.)

rows-only (no DuckDB oracle): the rotation matrix is a function of the
data (Gram eigenbasis), so the oracle SQL — a static string fixed at
registration — cannot reproduce it. Correctness is pinned instead by
tests/test_opq.py: rotation orthogonality at 1e-12, norm preservation
through the rotation (rotations are isometries, so total vector energy
is invariant), determinism run-over-run, and the measured improvement
opq_mse ≤ raw_mse at both fixture scales (~4% here; synthetic
embeddings are close to isotropic, where the parametric-OPQ gain is
smallest — skewed real covariances gain more).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.operators.opq import (
    pca_rotation_balanced,
    rotate_embeddings,
)
from flink_application_spark.operators.kmeans_exact import SCALE, lloyd_ppm, quantize_ppm
from flink_application_spark.operators.pq import pq_encode
from flink_application_spark.plans.registry import register

_M = 4
_K = 8
_DIM = 64
_ITERS = 10  # exact Lloyd's rounds per codebook


def opq_compare_frame(emb: DataFrame, m: int = _M, k: int = _K, dim: int = _DIM) -> DataFrame:
    """(variant, n_vecs, mse): trained-codebook PQ reconstruction MSE
    on raw vs PCA-rotated-balanced (parametric OPQ) vectors. Identical
    training protocol on both sides (same seeds-by-smallest-id, the
    same exact-integer Lloyd's rounds), so the rotation is the ONLY
    difference being measured."""
    # localCheckpoint(eager): the rotated frame feeds TWO consumers —
    # the codebook-training collect NOW and the returned lazy union at
    # action time. A persist()+unpersist()-before-return pair (the
    # first form) only cached the training read and recomputed the
    # whole rotation mapInPandas when the caller materialized; the
    # eager checkpoint computes the rotation exactly once and the
    # blocks serve both reads (freed when the frame is GC'd).
    rot = rotate_embeddings(emb, pca_rotation_balanced(emb, dim, m)).localCheckpoint(
        eager=True
    )
    rows = []
    for variant, frame in (("raw", emb), ("opq", rot)):
        books = [
            [[c / SCALE for c in cv] for cv in book]
            for book in lloyd_ppm(quantize_ppm(frame), k, _ITERS, m)[0]
        ]
        rows.append(
            pq_encode(frame, books, dim).agg(
                F.lit(variant).alias("variant"),
                F.count(F.lit(1)).alias("n_vecs"),
                F.round(F.avg("recon_d2"), 6).alias("mse"),
            )
        )
    return rows[0].unionByName(rows[1])


@register(
    "emb_opq_pq_compare",
    None,  # data-dependent rotation — see module docstring
    doc=f"Parametric OPQ (Ge CVPR'13) vs plain PQ at m={_M}, k={_K}: "
    "PCA-rotate with eigen-dimensions balance-allocated across "
    "subspaces, train identical per-subspace codebooks on both "
    "(exact-integer Lloyd's, operators/kmeans_exact.py), "
    "report reconstruction MSE per variant. One Gram pass + one "
    "Arrow matmul per batch is the rotation's whole corpus cost; "
    "rows-only with orthogonality/isometry/improvement invariants "
    "pinned in tests/test_opq.py.",
    tags=("embeddings", "quantization", "opq"),
)
def q_opq_pq_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return opq_compare_frame(emb)
