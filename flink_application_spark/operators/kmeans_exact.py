"""Exact-integer (ppm-quantized) Lloyd's k-means — the one k-means
trainer, replayable in SQL.

Float Lloyd's updates are means whose cross-partition summation order
is engine-dependent, so no oracle can replay them. This trainer
removes the float reductions entirely — the round-7 determinism
recipe applied to distributed training:

- inputs quantize ONCE to ppm integers (CAST(round(v·1e6) AS BIGINT));
- distances are exact BIGINT folds (Σ (aᵢ−cᵢ)², coords ≤ ~1e6 →
  64·(2e6)² ≈ 2.6e14 ≪ 2⁶³), so argmin assignment (ties → cluster
  ascending) is bit-deterministic under ANY partitioning or reduction
  order;
- centroid updates reduce exact integer coordinate SUMS (associative —
  order-free), divide once in IEEE double (identical both engines),
  and re-quantize to ppm via one round() — centroids stay integers, so
  the next iteration is again exact;
- empty clusters keep their previous centroid (deterministic rule,
  mirrored in the oracle).

The per-iteration profile (inertia = Σ min-d², centroid L1 mass after
the update — both exact BIGINTs) pins the ENTIRE training trajectory
in the driver's value hash: the DuckDB oracle unrolls the `iters`
Lloyd's rounds as CTE stages (`kmeans_exact_oracle_sql`) and must
reproduce every number bit-for-bit. Quantization costs ~1e-6 relative
coordinate error — irrelevant next to k-means' own local-optimum
variance — and buys a verifiable trainer. The PQ codebooks
(`pq_exact`), the IVF and IVFADC coarse quantizers, the trained-IVF
centroids of `similarity.train_centroids` and the OPQ comparison all
train through `lloyd_ppm`.

Scale shape: one broadcast-literal assignment pass fused with one
posexplode partial-agg reduction per iteration (a single Spark job,
for all PQ subspaces at once); driver state is k·d integers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

SCALE = 1_000_000


def ppm(col: str = "embedding") -> Column:
    """The array column as ppm BIGINTs — the one quantization rule."""
    return F.expr(
        f"transform({col}, v -> CAST(round(CAST(v AS DOUBLE) * {SCALE}) AS BIGINT))"
    )


def quantize_ppm(
    emb: DataFrame, id_col: str = "vec_id", col: str = "embedding"
) -> DataFrame:
    """(id, e) with e = the embedding as ppm BIGINTs."""
    return emb.filter(F.col(col).isNotNull()).select(
        F.col(id_col).alias("vec_id"), ppm(col).alias("e")
    )


def int_array(v: list[int]) -> str:
    """SQL literal array<bigint>."""
    return "array(" + ", ".join(f"{int(x)}L" for x in v) + ")"


def d2_sql(vec: str, cv: list[int]) -> str:
    """SQL: exact integer squared L2 from `vec` to a literal vector."""
    return (
        f"aggregate(zip_with({vec}, {int_array(cv)}, (a, b) -> (a - b) * (a - b)),"
        " 0L, (acc, x) -> acc + x)"
    )


def sorted_cand_array(cents: list[list[int]], vec: str = "e") -> str:
    """SQL: the centroids' (d2, cluster) structs for `vec`, sorted
    ascending — the head is the assignment (ties → cluster asc), the
    first n slots are an IVF probe list."""
    structs = ", ".join(
        f"named_struct('d2', {d2_sql(vec, cv)}, 'cluster', {i})"
        for i, cv in enumerate(cents)
    )
    return f"array_sort(array({structs}))"


def _assign_expr(cents: list[list[int]], vec: str = "e") -> str:
    """SQL picking (d2, cluster) of the nearest centroid to `vec`."""
    return f"element_at({sorted_cand_array(cents, vec)}, 1)"


def lloyd_ppm(
    q: DataFrame, k: int = 8, iters: int = 5, m: int = 1
) -> tuple[list[list[list[int]]], list[tuple[int, int, int]]]:
    """Run `iters` exact-integer Lloyd's rounds over already-quantized
    ``(vec_id, e)`` rows, independently on each of the m contiguous
    equal slices of e (m = 1: plain k-means; m > 1: the per-subspace
    PQ codebooks). Seeds are the k smallest vec_ids' slices (the shared
    no-RNG convention). Returns (per-slice ppm centroids, profile rows
    (iteration, inertia, centroid_l1) summed over slices).

    Each round is ONE Spark job for all m slices: rows explode to
    (slice, nearest centroid) and then to coordinates, and the
    (slice, cluster, pos) groups carry the exact coordinate sums plus,
    on their pos-0 row, the group's d² sum — inertia needs no second
    pass."""
    q = q.select("vec_id", "e").persist()
    seed_rows = q.orderBy("vec_id").limit(k).collect()
    if not seed_rows:  # empty / all-NULL input: no seeds, so "training"
        # is undefined — return an empty profile instead of crashing
        # in _assign_expr on a zero-length struct array
        q.unpersist()
        return [[] for _ in range(m)], []
    dsub = len(seed_rows[0]["e"]) // m
    books = [
        [list(r["e"][s * dsub : (s + 1) * dsub]) for r in seed_rows]
        for s in range(m)
    ]
    prof: list[tuple[int, int, int]] = []
    for t in range(1, iters + 1):
        best = "array(" + ", ".join(
            _assign_expr(books[s], f"slice(e, {s * dsub + 1}, {dsub})")
            for s in range(m)
        ) + ")"
        # exact integer coordinate sums per (slice, cluster, dim); ONE
        # double division + round per coordinate (identical in the oracle)
        means = (
            q.select("e", F.posexplode(F.expr(best)).alias("s", "b"))
            .select(
                "s",
                "b",
                F.posexplode(F.expr(f"slice(e, s * {dsub} + 1, {dsub})")).alias(
                    "pos", "v"
                ),
            )
            .groupBy("s", F.col("b.cluster").alias("cluster"), "pos")
            .agg(
                F.expr(
                    "CAST(round(CAST(sum(v) AS DOUBLE) / count(1)) AS BIGINT)"
                ).alias("cv"),
                F.expr("sum(CASE WHEN pos = 0 THEN b.d2 END)").alias("d2"),
            )
            .collect()
        )
        inertia = sum(int(r["d2"]) for r in means if r["pos"] == 0)
        for r in means:  # a cluster no row chose keeps its centroid
            books[r["s"]][r["cluster"]][r["pos"]] = r["cv"]
        l1 = sum(abs(x) for book in books for cv in book for x in cv)
        prof.append((t, inertia, l1))
    q.unpersist()
    return books, prof


def kmeans_fit_exact(
    emb: DataFrame,
    k: int = 8,
    iters: int = 5,
    id_col: str = "vec_id",
    col: str = "embedding",
) -> tuple[list[list[int]], list[tuple[int, int, int]]]:
    """`lloyd_ppm` over the ppm quantization of a float embedding
    column — (final ppm centroids, profile rows)."""
    books, prof = lloyd_ppm(quantize_ppm(emb, id_col, col), k, iters)
    return books[0], prof


def kmeans_fit_exact_profile(
    emb: DataFrame,
    k: int = 8,
    iters: int = 5,
    id_col: str = "vec_id",
    col: str = "embedding",
) -> DataFrame:
    """The registered-profile form of `kmeans_fit_exact`:
    (iteration, inertia, centroid_l1) — all BIGINT, hash-identical to
    the unrolled SQL replay."""
    _, prof = kmeans_fit_exact(emb, k, iters, id_col, col)
    return emb.sparkSession.createDataFrame(
        prof, "iteration bigint, inertia bigint, centroid_l1 bigint"
    )


def kmeans_exact_cte_parts(k: int = 8, iters: int = 5, dim: int = 64) -> list[str]:
    """The unrolled Lloyd's CTE stages ({prefix}q, {prefix}c0, then
    {prefix}a{t}/m{t}/c{t} per round) — shared by the profile oracle,
    the exact-TRAINED IVF retrieval oracle (round 8, appends
    assignment/probe/top-k stages over the final c{iters}), and the
    exact-TRAINED PQ/ADC oracle (round 8, one PREFIXED unroll per
    subspace over sliced vectors — pass `q_sql` defining
    ``{prefix}q(vec_id, e)``)."""
    return kmeans_exact_cte_parts_prefixed(k, iters, dim)


def kmeans_exact_cte_parts_prefixed(
    k: int = 8,
    iters: int = 5,
    dim: int = 64,
    prefix: str = "",
    q_sql: str | None = None,
) -> list[str]:
    p = prefix
    d2 = (
        "list_sum(list_transform(list_zip(q.e, c.cv),"
        " p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )
    # alias the prefixed base back to the local name `q` the d2
    # template uses; with no prefix keep the original byte-identical
    # text (the profile oracle is proven hash-green as written)
    qref = f"{p}q q" if p else "q"
    # Every stage is MATERIALIZED: the unroll is a chain where each
    # round's stages are referenced by the next round AND by the final
    # profile union — left to DuckDB's inlining heuristic the plan
    # re-evaluates whole prefixes of the chain, which is what actually
    # made the round-8 sweep superlinear (measured: 8× fixture 158 s
    # inlined vs 6.4 s materialized with the same aggregate argmin).
    if q_sql is None:
        q_sql = f"""{p}q AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding,
                        v -> CAST(round(CAST(v AS DOUBLE) * {SCALE}) AS BIGINT))
           AS e
  FROM embeddings WHERE embedding IS NOT NULL
)"""
    parts = [
        q_sql,
        f"""{p}c0 AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, e AS cv
  FROM (SELECT vec_id, e FROM {p}q ORDER BY vec_id LIMIT {k})
)""",
    ]
    # Assignment is a hash AGGREGATE, not a window: the (d2, cluster)
    # lexicographic argmin is packed into one BIGINT key d2·k+cluster
    # (cluster < k makes the encoding order-preserving; d2 ≤
    # dim·(2·SCALE)² ≈ 2.6e14, ×k ≪ 2⁶³) so min() picks the nearest
    # centroid with the ties→cluster-ascending rule and NO per-vector
    # sort — replacing the row_number()-over-(q×c) form flagged by the
    # round-8 sweep (growth_vs_linear 1.98, 42.6 s at 8×; with the
    # MATERIALIZED stages above the rewrite measures 6.35 s / 0.38).
    for t in range(1, iters + 1):
        parts.append(
            f"""{p}a{t} AS MATERIALIZED (
  SELECT vec_id, e, best % {k} AS cluster, best // {k} AS d2 FROM (
    SELECT q.vec_id, any_value(q.e) AS e,
           min({d2} * {k} + c.cluster) AS best
    FROM {qref} CROSS JOIN {p}c{t - 1} c
    GROUP BY q.vec_id
  )
)""",
        )
        parts.append(
            f"""{p}m{t} AS MATERIALIZED (
  SELECT cluster, pos,
         CAST(round(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT) AS cv_j
  FROM (SELECT cluster, t.pos AS pos, e[t.pos] AS v
        FROM {p}a{t} CROSS JOIN (SELECT unnest(range(1, {dim + 1})) AS pos) t)
  GROUP BY cluster, pos
)""",
        )
        parts.append(
            f"""{p}c{t} AS MATERIALIZED (
  SELECT c.cluster, COALESCE(m.cv, c.cv) AS cv
  FROM {p}c{t - 1} c
  LEFT JOIN (SELECT cluster, list(cv_j ORDER BY pos) AS cv
             FROM {p}m{t} GROUP BY cluster) m USING (cluster)
)""",
        )
    return parts


def kmeans_exact_oracle_sql(k: int = 8, iters: int = 5, dim: int = 64) -> str:
    """The DuckDB replay: `iters` Lloyd's rounds unrolled as CTE
    stages over the same ppm integers (the mmr_sql/cep unrolling
    recipe applied to a training loop)."""
    parts = kmeans_exact_cte_parts(k, iters, dim)
    union = "\nUNION ALL\n".join(
        f"SELECT {t} AS iteration,"
        f" (SELECT CAST(sum(d2) AS BIGINT) FROM a{t}) AS inertia,"
        f" (SELECT CAST(sum(l1) AS BIGINT) FROM"
        f" (SELECT CAST(list_sum(list_transform(cv, x -> abs(x))) AS BIGINT)"
        f" AS l1 FROM c{t})) AS centroid_l1"
        for t in range(1, iters + 1)
    )
    body = ",\n".join(parts)
    return f"WITH {body}\nSELECT iteration, inertia, centroid_l1 FROM ({union})"
