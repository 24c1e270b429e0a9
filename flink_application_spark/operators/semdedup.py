"""SemDeDup — semantic deduplication by clustering then within-cluster
cosine pruning (Abbas et al. 2023, "SemDeDup: Data-efficient learning
at web-scale through semantic deduplication", arXiv:2303.09540).

Pipeline shape (all existing, separately-verified machinery):

1. **Cluster** every embedding to its nearest centroid — the
   scan-local broadcast-literal argmin from ``operators/kmeans.py``
   (no shuffle, embeddings never move).
2. **Pairwise cosine WITHIN each cluster only** — the equi-join on
   ``cluster`` replaces the corpus-wide cross product; this bounded
   blocking is the entire point of SemDeDup. At 100 TB the cluster
   count k scales with the corpus (the paper uses k ≈ n/10⁴), so the
   per-cluster pair work stays ~constant per row and the join
   shuffles on a key with controlled fan-in. Locally k is small and
   deterministic (seed centroids = k smallest ids) so the DuckDB
   oracle can reproduce the assignment bit-for-bit.
3. **Prune**: a vector is dropped when a *lower-id* vector in the
   same cluster is within the cosine threshold; the survivor set is
   every vector with no smaller close neighbor. This "drop if any
   smaller neighbor" rule is the same deterministic one-shot
   approximation of sequential greedy used by the text dedup
   pipeline (`plans/dedup_queries.py`) — monotone (never drops the
   cluster's lowest id), order-insensitive, SQL-expressible. The
   strict sequential greedy (only KEPT neighbors can kill) differs
   only on chains a−b−c where a kills b and b—but-not-a—is close to
   c; documented divergence, same as the text path.

The reference has no semantic-dedup operator; this extends the
enrichment engine toward the training-data-curation surface
(cf. /root/reference/src/main/java/org/example/EnrichmentApp.java's
dedup-by-session-argmax at a different altitude).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from flink_application_spark.operators.kmeans import assign_clusters, init_centroids

# Pair-stage row-block budget, in float64 cells (~64 MB per block):
# bounds the Arrow worker's dot-matrix allocation at
# max(1, _PAIR_BLOCK_ELEMS // cluster_size) rows per block.
_PAIR_BLOCK_ELEMS = 8_000_000


def _close_pairs_arrow(assigned: DataFrame, threshold: float) -> DataFrame:
    """(id_b, cos) for every within-cluster pair id_a < id_b whose
    ROUNDED cosine clears ``threshold`` — the pair stage of
    ``semdedup_flags`` as Arrow-batched numpy.

    The old form joined `assigned` with itself on cluster and evaluated
    `functions.vectors.cosine` (three zip_with/aggregate folds) per
    pair; Catalyst higher-order functions run interpreted, which made
    the ~250k sf0.1 pairs cost ~4.5 s (guide §4.2). Here each task
    takes its clusters' vectors once and accumulates all pairwise dot
    products per COORDINATE (``dotm += outer(x[:,j], x[:,j])`` for
    j = 0..d−1), which performs the IDENTICAL left-to-right float64
    op sequence as the fold — acc starts at 0.0 and adds one product
    per coordinate — so every raw cosine is bit-equal (pinned in
    tests/test_semdedup.py). Norms come from the accumulated diagonal
    (same fold order), and the final HALF_UP round stays Spark-side
    (`F.round` — numpy rounds half-even, the one op that may NOT move
    to Python); numpy only pre-filters at threshold − 1e-6, strictly
    wider than any value the exact rounded filter keeps.

    Scale shape is unchanged: one shuffle on cluster (the SemDeDup
    blocking key), pair work bounded per cluster, embeddings cross the
    Python boundary once per task and only the (id, raw-cos) survivors
    come back.

    Worker memory is BOUNDED (round-11 ADVICE, medium): the pair dot
    matrix accumulates in ROW BLOCKS of ≤ _PAIR_BLOCK_ELEMS float64
    cells (~64 MB at the default), never the dense n×n the first form
    allocated — an unguarded 125k-vector cluster would have needed
    ~125 GB there. Within each block the per-coordinate left-to-right
    add order is preserved exactly (one `outer` add per coordinate j,
    acc from 0.0), so every cell's float64 op sequence — hence every
    cosine — is unchanged (the bit-equality pin covers both shapes;
    tests also force multi-block via a monkeypatched block size). The
    residual per-cluster footprint is the n×d input matrix itself plus
    one block — O(n·d + block), linear in cluster size."""
    import numpy as np
    import pandas as pd

    spread = assigned.sparkSession.sparkContext.defaultParallelism
    margin = float(threshold) - 1e-6
    block_elems = _PAIR_BLOCK_ELEMS  # snapshot: plain closure capture

    def gen(batches):
        # a partition may arrive as several Arrow batches; a cluster
        # must be pairwise-complete, so concat before grouping
        chunks = [b for b in batches]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        for _cl, g in pdf.groupby("cluster", sort=False):
            n = len(g)
            if n < 2:
                continue
            g = g.sort_values("vec_id")
            ids = g["vec_id"].to_numpy()
            x = np.array(g["embedding"].tolist(), dtype=np.float64)
            d = x.shape[1]
            # norms first: the same one-add-per-coordinate fold the
            # old diagonal accumulation performed
            nrm2 = np.zeros(n, dtype=np.float64)
            for j in range(d):
                nrm2 += x[:, j] * x[:, j]
            nrm = np.sqrt(nrm2)
            blk = max(1, int(block_elems // n))
            for r0 in range(0, n - 1, blk):
                r1 = min(r0 + blk, n - 1)
                # columns r0+1.. only (upper triangle: id_a < id_b);
                # per-coordinate add order within the block matches
                # the dense form's bit-for-bit
                db = np.zeros((r1 - r0, n - (r0 + 1)), dtype=np.float64)
                for j in range(d):
                    db += np.outer(x[r0:r1, j], x[r0 + 1 :, j])
                cosb = db / np.outer(nrm[r0:r1], nrm[r0 + 1 :])
                rr, cc = np.triu_indices(r1 - r0, 0, n - (r0 + 1))
                cos = cosb[rr, cc]
                m = cos >= margin
                if m.any():
                    yield pd.DataFrame(
                        {"id_b": ids[r0 + 1 + cc[m]], "cos_raw": cos[m]}
                    )

    cand = assigned.select("vec_id", "embedding", "cluster").repartition(
        spread, "cluster"
    ).mapInPandas(gen, "id_b bigint, cos_raw double")
    return cand.select(
        "id_b", F.round(F.col("cos_raw"), 6).alias("cos")
    ).filter(F.col("cos") >= threshold)


def assign_with_split(
    emb: DataFrame,
    k: int,
    max_cluster_size: int | None = None,
    max_depth: int = 4,
) -> DataFrame:
    """Cluster assignment with the SemDeDup skew guard: any cluster
    larger than ``max_cluster_size`` is recursively RE-CLUSTERED over
    its own members (sub-centroids = the k smallest member ids —
    deterministic, no RNG), up to ``max_depth`` rounds. This is the
    paper's own answer to over-full clusters, and the same class of
    fix as the minhash path's hot-bucket guard: no pair-join key may
    be a constant fraction of the corpus.

    Returns (vec_id, embedding, cluster) where cluster is a PATH
    string ('3', '3/1', '3/1/0', …) so sub-clusters never collide."""
    emb = emb.filter(F.col("embedding").isNotNull())
    cents = init_centroids(emb, k, "vec_id")
    out = assign_clusters(emb, cents).select(
        "vec_id", "embedding", F.col("cluster").cast("string").alias("cluster")
    )
    if max_cluster_size is None:
        return out
    for _ in range(max_depth):
        sizes = out.groupBy("cluster").agg(F.count(F.lit(1)).alias("n"))
        hot = [
            r["cluster"]
            for r in sizes.filter(F.col("n") > max_cluster_size).collect()
        ]
        if not hot:
            break
        keep = out.filter(~F.col("cluster").isin(hot))
        pieces = [keep]
        for c in hot:
            members = out.filter(F.col("cluster") == c).select(
                "vec_id", "embedding"
            )
            sub_k = min(k, members.count())
            sub_cents = init_centroids(members, sub_k, "vec_id")
            pieces.append(
                assign_clusters(members, sub_cents).select(
                    "vec_id",
                    "embedding",
                    F.concat(
                        F.lit(c + "/"), F.col("cluster").cast("string")
                    ).alias("cluster"),
                )
            )
        from functools import reduce

        out = reduce(lambda a, b: a.unionByName(b), pieces).localCheckpoint()
    return out


def semdedup_flags(
    emb: DataFrame,
    threshold: float,
    k: int = 8,
    centroids: list[list[float]] | None = None,
    max_cluster_size: int | None = None,
) -> DataFrame:
    """Per-vector SemDeDup verdicts.

    Returns (vec_id, cluster, kept, n_close_smaller, max_sim_smaller):
    ``kept`` is false iff some lower-id vector in the same cluster has
    cosine ≥ ``threshold``; the diagnostic columns say how many and how
    close. ``centroids`` defaults to the deterministic k-smallest-id
    seeds (pass ``kmeans_fit_exact`` centroids / 1e6 for trained clusters —
    the flags logic is identical). ``max_cluster_size`` enables the
    recursive oversized-cluster split (`assign_with_split`) — the
    skew guard for corpora whose density defeats the seed centroids;
    the oracle-checked registry query keeps the unguarded path (the
    split changes cluster labels, hence verdicts, by design)."""
    # persist barriers (the composed-funnel discipline): emb feeds the
    # centroid-seed collect AND the assignment; assigned feeds BOTH
    # pair sides and the final verdict join. Without them a composed
    # input (e.g. the hashing-trick vectorizer in doc_semdedup_flags)
    # re-evaluates per consumer — measured 15.5 s → ~3 s at sf0.01.
    emb = emb.filter(F.col("embedding").isNotNull()).persist()
    if max_cluster_size is not None:
        assigned = assign_with_split(emb, k, max_cluster_size)
    else:
        if centroids is None:
            centroids = init_centroids(emb, k, "vec_id")
        assigned = assign_clusters(emb, centroids).select(
            "vec_id", "embedding", "cluster"
        )
    assigned = assigned.persist()
    close_pairs = _close_pairs_arrow(assigned, threshold)
    drops = close_pairs.groupBy("id_b").agg(
        F.count(F.lit(1)).alias("n_close_smaller"),
        F.max("cos").alias("max_sim_smaller"),
    )
    out = (
        assigned.join(drops, assigned["vec_id"] == drops["id_b"], "left")
        .select(
            "vec_id",
            "cluster",
            F.col("id_b").isNull().alias("kept"),
            F.coalesce(F.col("n_close_smaller"), F.lit(0).cast("bigint")).alias(
                "n_close_smaller"
            ),
            "max_sim_smaller",
        )
        # materialize the (small, embedding-free) verdict frame, then
        # release both caches — callers invoke this repeatedly per
        # session (bench sweeps, driver windows) and the persists
        # otherwise accumulate leaked blocks (round-10 ADVICE)
        .localCheckpoint(eager=True)
    )
    emb.unpersist()
    assigned.unpersist()
    return out
