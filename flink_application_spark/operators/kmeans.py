"""Distributed k-means (Lloyd's) over an embedding column.

Scale design (the 100 TB shape):

- **Assignment** is a scan-local fold against *broadcast literal*
  centroids: per row, k squared-L2 distances computed as JVM-side
  ``zip_with``/``aggregate`` folds (no Python, no shuffle), argmin via
  ``array_min`` over ``(d2, cluster)`` structs — lexicographic min
  gives the deterministic lowest-cluster tie-break. Cost per row is
  O(k·d) inside whole-stage codegen; the embeddings never move.
- **Update** reuses the posexplode partial-agg shape from
  ``operators/pca.mean_vector``: the shuffle carries k·d partial sums
  per map partition — independent of corpus size, which is what makes
  an iteration 1000-executor-safe. The k×d centroid matrix comes back
  to the driver (tiny) and is re-broadcast as literals.
- **Iterations** are driver-orchestrated; each is one job. k-means at
  corpus scale is bounded by iterations × one-pass cost, and both
  halves above are single narrow/partial-agg passes.

This is the same sketch-to-driver / broadcast-back altitude as the
reference's enrichment loop (a huge table reduced to a tiny model and
re-joined to every row, cf. /root/reference/src/main/java/org/example/
EnrichmentApp.java lookup-dimension shape) — and it is exactly the
centroid machinery IVF ANN indexing needs (`operators/similarity.py`
trains its coarse quantizer the same way).

Determinism contract: init = embeddings of the k smallest ids (no
RNG); assignment math is sequential double folds so the DuckDB oracle
reproduces it bit-for-bit (same pattern as `similarity_queries._COS`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def _d2_to_centroid(col: Column, centroid: list[float]) -> Column:
    """Squared L2 distance to a literal centroid as a sequential
    left-to-right double fold — the cross-engine-reproducible form."""
    from flink_application_spark.operators.pq import lit_double_array

    c = lit_double_array(centroid)
    return F.aggregate(
        F.zip_with(col, c, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def assign_clusters(
    df: DataFrame,
    centroids: list[list[float]],
    col: str = "embedding",
    impl: str = "arrow",
) -> DataFrame:
    """Add ``cluster`` (argmin centroid index, ties → lowest index) and
    ``d2`` (squared L2 to it). Scan-local either way — no shuffle.

    ``impl="arrow"`` (default): Arrow-batched numpy with the IDENTICAL
    arithmetic as the fold form — per row, float64 accumulation in the
    same left-to-right coordinate order (`acc += (x_j − c_j)²` for
    j = 0..d−1), argmin taking the first minimum (lowest cluster on
    ties). Catalyst higher-order folds run interpreted (~1.6 s for
    2000×8×64 at sf0.1); the vectorized path is ~an order faster with
    bit-equal output (pinned in tests/test_kmeans.py), so oracle hashes
    are unchanged. ``impl="fold"`` keeps the pure-JVM expression form
    (zero Python — the right choice when Arrow transfer of the vector
    column dominates, e.g. very wide rows piped through many stages)."""
    if impl == "fold":
        cands = F.array(
            *[
                F.struct(
                    _d2_to_centroid(F.col(col), c).alias("d2"),
                    F.lit(i).alias("cluster"),
                )
                for i, c in enumerate(centroids)
            ]
        )
        best = F.array_min(cands)
        # NULL embedding → NULL cluster AND d2 (without the guard,
        # array_min over null-d2 structs picks cluster 0 with NULL d2 —
        # a misleading assignment, and a fold/arrow divergence)
        ok = F.col(col).isNotNull()
        return df.withColumn(
            "cluster", F.when(ok, best["cluster"])
        ).withColumn("d2", F.when(ok, best["d2"]))

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cents = [np.asarray(c, dtype=np.float64) for c in centroids]
    k = len(cents)

    # no type hints: module-level `from __future__ import annotations`
    # stringifies them beyond pyspark's resolver (pandas imported
    # locally); hint-less pandas_udf defaults to SCALAR
    @pandas_udf(f"struct<cluster:int,d2:double>")  # noqa: F541
    def best(emb):
        mask = emb.notna()
        out_cl = np.full(len(emb), -1, dtype=np.int64)
        out_d2 = np.full(len(emb), np.nan, dtype=np.float64)
        if mask.any():
            x = np.array(emb[mask].tolist(), dtype=np.float64)
            n, d = x.shape
            d2 = np.empty((n, k), dtype=np.float64)
            for ci, c in enumerate(cents):
                acc = np.zeros(n, dtype=np.float64)
                for j in range(d):  # fold order: left-to-right adds
                    diff = x[:, j] - c[j]
                    acc += diff * diff
                d2[:, ci] = acc
            cl = np.argmin(d2, axis=1)  # first min ⇒ lowest cluster
            out_cl[mask.to_numpy()] = cl
            out_d2[mask.to_numpy()] = d2[np.arange(n), cl]
        return pd.DataFrame(
            {
                "cluster": pd.array(
                    [None if c < 0 else int(c) for c in out_cl], dtype="Int32"
                ),
                # NULL (not NaN) for null embeddings, like the fold form
                "d2": pd.array(
                    [None if c < 0 else v for c, v in zip(out_cl, out_d2)],
                    dtype="Float64",
                ),
            }
        )

    out = df.withColumn("_best", best(F.col(col)))
    return out.withColumn("cluster", F.col("_best.cluster")).withColumn(
        "d2", F.col("_best.d2")
    ).drop("_best")


def init_centroids(
    df: DataFrame, k: int, id_col: str, col: str = "embedding"
) -> list[list[float]]:
    """Deterministic seeding: the embeddings of the k smallest ids.
    (No k-means++ RNG — reproducibility across engines and reruns is
    worth more to a data pipeline than a marginally better seed; a
    caller who wants ++ seeding can pass its output as `centroids`.)"""
    rows = (
        df.filter(F.col(col).isNotNull())
        .orderBy(id_col)
        .limit(k)
        .select(col)
        .collect()
    )
    if len(rows) < k:
        raise ValueError(f"init_centroids: need {k} rows, found {len(rows)}")
    return [[float(x) for x in r[0]] for r in rows]


def update_centroids(assigned: DataFrame, k: int, col: str = "embedding") -> list[list[float]]:
    """Recompute means per cluster via posexplode partial agg (shuffle
    carries (cluster, pos) partials, never vectors). Empty clusters
    keep a zero vector (callers may re-seed; deterministic either way)."""
    rows = (
        assigned.select("cluster", F.posexplode(col).alias("pos", "val"))
        .groupBy("cluster", "pos")
        .agg(F.avg("val").alias("m"))
        .collect()
    )
    dim = 1 + max(r["pos"] for r in rows)
    cents = [[0.0] * dim for _ in range(k)]
    for r in rows:
        cents[r["cluster"]][r["pos"]] = float(r["m"])
    return cents


def kmeans_fit(
    df: DataFrame,
    k: int,
    id_col: str,
    col: str = "embedding",
    max_iters: int = 20,
    tol: float = 1e-6,
) -> tuple[list[list[float]], int]:
    """Lloyd's iterations until max centroid squared-shift ≤ tol.
    Returns (centroids, n_iters_run). Each iteration is two jobs:
    one assignment+update pass (they fuse — update reads the assigned
    frame) and the driver-side shift check."""
    df = df.filter(F.col(col).isNotNull())
    cents = init_centroids(df, k, id_col, col)
    iters = 0
    for _ in range(max_iters):
        iters += 1
        new = update_centroids(assign_clusters(df, cents, col), k, col)
        shift = max(
            sum((a - b) * (a - b) for a, b in zip(cn, co))
            for cn, co in zip(new, cents)
        )
        cents = new
        if shift <= tol:
            break
    return cents, iters


def uniform_sample_rows(
    df: DataFrame,
    id_col: str,
    cols: list[str],
    sample_rows: int,
) -> list:
    """Deterministic UNIFORM bounded sample: bottom-`sample_rows` by
    md5(id) rank (ties broken by id), returned sorted by id. md5 is
    uncorrelated with ingest order, so unlike an id-prefix
    (orderBy(id).limit(n)) this matches FAISS's uniform training-sample
    discipline — ids typically correlate with source/time, and a prefix
    would train codebooks on a biased head of the corpus. Spark plans
    the orderBy+limit as a distributed TakeOrdered (no global sort),
    and when sample_rows ≥ corpus rows the sample IS the corpus, so
    small-scale results are bit-identical to the unsampled path. The
    id-sorted return keeps k-smallest-id centroid seeding deterministic
    (a bottom-k-by-md5 sample)."""
    rank = F.md5(F.col(id_col).cast("string"))
    rows = (
        df.select(id_col, *cols)
        .orderBy(rank, F.col(id_col))
        .limit(sample_rows)
        .collect()
    )
    rows.sort(key=lambda r: r[0])
    return rows


def kmeans_fit_local(
    df: DataFrame,
    k: int,
    id_col: str,
    col: str = "embedding",
    max_iters: int = 20,
    tol: float = 1e-6,
    sample_rows: int = 65536,
) -> tuple[list[list[float]], int]:
    """Lloyd's on a DRIVER-BOUNDED deterministic sample — the codebook-
    training shape production ANN systems use (FAISS trains coarse and
    product quantizers on a bounded training sample, not the corpus;
    k·d centroids never justify corpus-wide iteration passes). The
    sample is UNIFORM — bottom-`sample_rows` by md5(id) rank via
    `uniform_sample_rows` (one distributed TakeOrdered, one collect;
    an id-prefix would train on a biased head since ids correlate with
    ingest order) — then numpy Lloyd's with the SAME semantics as the
    distributed trainer: k-smallest-id-in-sample init, first-minimum
    argmin (lowest cluster on ties), empty cluster → zero vector, the
    same squared-shift stop rule. Below `sample_rows` corpus rows the
    sample is the whole corpus and results match `kmeans_fit` exactly.

    Use `kmeans_fit` when the model must train on every row (it scales
    as bounded partial-agg passes); use this when a bounded sample is
    statistically sufficient — 10 iterations go from 10 distributed
    jobs to one collect + microseconds (emb_ivfadc_trained_topk:
    18 s → ~1 s at sf0.1)."""
    import numpy as np

    rows = uniform_sample_rows(
        df.filter(F.col(col).isNotNull()), id_col, [col], sample_rows
    )
    if len(rows) < k:
        raise ValueError(f"kmeans_fit_local: need {k} rows, found {len(rows)}")
    x = np.array([r[1] for r in rows], dtype=np.float64)
    cents = x[:k].copy()  # k smallest ids — init_centroids' seeds
    iters = 0
    for _ in range(max_iters):
        iters += 1
        d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        cl = np.argmin(d2, axis=1)  # first min ⇒ lowest cluster
        new = np.zeros_like(cents)
        for c in range(k):
            members = x[cl == c]
            if len(members):
                new[c] = members.mean(axis=0)
        shift = float(((new - cents) ** 2).sum(axis=1).max())
        cents = new
        if shift <= tol:
            break
    return [[float(v) for v in c] for c in cents], iters


def cluster_profile(assigned: DataFrame) -> DataFrame:
    """Per-cluster size and mean within-cluster squared distance —
    the standard convergence/health readout."""
    return (
        assigned.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("d2"), 4).alias("sum_d2"),
        )
        .orderBy("cluster")
    )
