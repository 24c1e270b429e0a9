"""Exact-TRAINED IVF retrieval — the round-8 capstone of the
determinism recipe: an approximate-nearest-neighbor index whose coarse
quantizer is TRAINED (5 exact-integer Lloyd's rounds,
`operators/kmeans_exact.py`), not merely seeded, and whose entire
lifecycle — training trajectory, corpus assignment, probe selection,
candidate scoring, final ranking — replays bit-for-bit in the DuckDB
oracle.

Beside it the registry holds the SEEDED deterministic index
(`ivf_topk_seeded` — oracle-exact, but its centroids are just the k
smallest-id embeddings, so it trades recall for replayability). Float
Lloyd's is engine-dependent, so no oracle could replay a float-trained
index; ppm-integer Lloyd's gives FITTED centroids AND bit-determinism.
The IVFADC form (`pq_exact.ivfadc_exact_topk`) reuses these cells.

Everything stays integer: corpus vectors and centroids are ppm
BIGINTs, assignment and probe selection are exact d² folds (ties →
cluster ascending), candidate scores are exact d² BIGINTs (ties →
vec_id ascending). No floats anywhere — nothing to round, nothing to
drift. On unit-norm embeddings the integer-L2 ranking is the cosine
ranking (monotone transform), so recall contracts carry over.

Scale shape (identical to `similarity.ivf_topk`): the corpus-side
inverted list NEVER shuffles vectors — assignment is a scan-local
broadcast-literal expression; probes (a few rows per query) broadcast
to the corpus side; the candidate join is equi on the list id; top-k
is a per-query window over ~|probed cells| candidates. Training cost
is the kmeans_exact iteration loop: one assignment pass + one
posexplode partial-agg per round, driver state k·d integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from flink_application_spark.operators.kmeans_exact import (
    _assign_expr,
    kmeans_exact_cte_parts,
    kmeans_fit_exact,
    quantize_ppm,
    sorted_cand_array,
)


def ivf_cells(
    q: DataFrame, cents: list[list[int]], n_probe: int, n_queries: int
) -> tuple[DataFrame, DataFrame]:
    """The inverted lists over ppm rows ``q(vec_id, e)``: (assigned
    (vec_id, e, cluster) — every row's nearest cell — and probes
    (query_id, qv, cluster) — the n_probe nearest cells of each of the
    first `n_queries` vec_ids)."""
    # coalesce(-1) makes the assignment expression NON-NULLABLE, so
    # the equi-join on cluster cannot infer an IsNotNull(fold) filter
    # that Catalyst would inline into the scan stage (the PLAN_AUDIT
    # round-8 HOF_IN_SCAN_FILTER advisory; -1 is unreachable — e is
    # non-null after quantize_ppm, so the fold never yields NULL, and
    # no probe carries cluster -1)
    assigned = q.select(
        "vec_id",
        "e",
        F.expr(f"coalesce({_assign_expr(cents)}.cluster, -1)").alias("cluster"),
    )
    probes = (
        q.filter(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("e").alias("qv"),
            F.explode(
                F.expr(f"slice({sorted_cand_array(cents)}, 1, {n_probe})")
            ).alias("p"),
        )
        .select("query_id", "qv", F.col("p.cluster").alias("cluster"))
    )
    return assigned, probes


def rank_topk(cand: DataFrame, score: str, k: int) -> DataFrame:
    """(query_id, vec_id, score, rank) of the k lowest `score` rows per
    query (ties → vec_id ascending)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col(score).asc(), F.col("vec_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", score, "rank")
    )


def ivf_exact_trained_topk(
    emb: DataFrame,
    k: int = 10,
    *,
    n_centroids: int = 8,
    iters: int = 5,
    n_probe: int = 2,
    n_queries: int = 5,
    cents: list[list[int]] | None = None,
) -> DataFrame:
    """(query_id, vec_id, d2q, rank): top-k neighbors of the first
    `n_queries` vec_ids over the exact-trained IVF index — every
    number an exact integer, hash-replayable end to end. Pass `cents`
    to reuse an already-trained (same k/iters) centroid set — the fit
    is a pure function of (table, k, iters), so a memoized result is
    bit-identical to training in place."""
    if cents is None:
        cents, _ = kmeans_fit_exact(emb, k=n_centroids, iters=iters)
    if not cents:  # empty / all-NULL corpus: no index, no neighbors —
        # match the oracle's zero rows instead of crashing in the
        # assignment expression (the kmeans_exact empty-input rule)
        return emb.sparkSession.createDataFrame(
            [], "query_id bigint, vec_id bigint, d2q bigint, rank int"
        )
    assigned, probes = ivf_cells(quantize_ppm(emb), cents, n_probe, n_queries)
    cand = (
        assigned.join(F.broadcast(probes), "cluster")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.expr(
                "aggregate(zip_with(e, qv, (a, b) -> (a - b) * (a - b)),"
                " 0L, (acc, x) -> acc + x)"
            ).alias("d2q"),
        )
    )
    return rank_topk(cand, "d2q", k)


def ivf_cell_ctes(
    n_centroids: int, iters: int, n_probe: int, n_queries: int, dim: int
) -> list[str]:
    """The replay of `ivf_cells` with the quantizer trained in place:
    the kmeans_exact training unroll (shared CTE parts — byte-identical
    to the profile oracle's stages), then af(vec_id, e, cluster), the
    final assignment under c{iters}, and pr(query_id, qv, cluster), the
    per-query probe ranking."""
    d2 = (
        "list_sum(list_transform(list_zip(q.e, c.cv),"
        " p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )
    # argmin-as-aggregate (the kmeans_exact_cte_parts_prefixed a{t}
    # encoding): min(d2·k+cluster) replaces the per-vector window sort
    # that was measured superlinear in DuckDB at 8× fixture growth
    return kmeans_exact_cte_parts(n_centroids, iters, dim) + [
        f"""af AS MATERIALIZED (
  SELECT vec_id, e, best % {n_centroids} AS cluster FROM (
    SELECT q.vec_id, any_value(q.e) AS e,
           min({d2} * {n_centroids} + c.cluster) AS best
    FROM q CROSS JOIN c{iters} c
    GROUP BY q.vec_id
  )
)""",
        f"""pr AS (
  SELECT query_id, qv, cluster FROM (
    SELECT q.vec_id AS query_id, q.e AS qv, c.cluster,
           row_number() OVER (
             PARTITION BY q.vec_id ORDER BY {d2} ASC, c.cluster ASC
           ) AS rn
    FROM q CROSS JOIN c{iters} c
    WHERE q.vec_id < {n_queries}
  ) WHERE rn <= {n_probe}
)""",
    ]


def rank_topk_sql(parts: list[str], score: str, k: int) -> str:
    """WITH `parts` — whose last stage is cand(query_id, vec_id,
    `score`) — then `rank_topk`'s window in SQL."""
    body = ",\n".join(parts)
    return f"""WITH {body}
SELECT query_id, vec_id, {score}, CAST(rank AS INT) AS rank FROM (
  SELECT query_id, vec_id, {score},
         row_number() OVER (
           PARTITION BY query_id ORDER BY {score} ASC, vec_id ASC
         ) AS rank
  FROM cand
) WHERE rank <= {k}"""


def ivf_exact_trained_oracle_sql(
    k: int = 10,
    *,
    n_centroids: int = 8,
    iters: int = 5,
    n_probe: int = 2,
    n_queries: int = 5,
    dim: int = 64,
) -> str:
    """The DuckDB replay: `ivf_cell_ctes`, the exact-d² candidate
    scoring, and the top-k window."""
    parts = ivf_cell_ctes(n_centroids, iters, n_probe, n_queries, dim)
    parts.append(
        """cand AS (
  SELECT p.query_id, a.vec_id,
         CAST(list_sum(list_transform(list_zip(a.e, p.qv),
                                      z -> (z[1] - z[2]) * (z[1] - z[2])))
              AS BIGINT) AS d2q
  FROM af a JOIN pr p USING (cluster)
  WHERE a.vec_id <> p.query_id
)"""
    )
    return rank_topk_sql(parts, "d2q", k)
