"""Exact-TRAINED product quantization + ADC top-k — the second half of
the round-8 trained-index conversion (`operators/ivf_exact.py` did the
coarse quantizer; this does the CODEBOOKS).

Classic PQ (Jégou et al., TPAMI 2011) splits vectors into m subspaces
and trains a k-means codebook per subspace; ADC scores a query against
a candidate by summing per-subspace distances between the query's
subvector and the candidate's ASSIGNED CODEWORD. Conventionally the
codebooks are float Lloyd's — engine-dependent, so no oracle can
replay them. Here every subspace codebook is trained by the
exact-integer Lloyd's loop (`kmeans_exact.lloyd_ppm` over the
ppm-sliced subvectors, all subspaces in one job per round), so the
codebooks, the corpus codes, every ADC table cell, and the final
ranking are exact BIGINTs — the full PQ lifecycle replays in DuckDB as
m prefixed copies of the shared training unroll
(`kmeans_exact_cte_parts_prefixed`) plus long-format code/codebook
joins.

Approximation semantics are unchanged from float PQ: the ADC score is
the exact d² between the query subvector and the candidate's quantized
representation — approximation error comes from quantization (as
designed), never from float nondeterminism. Scale shape: codes are a
scan-local broadcast-literal expression (corpus vectors never
shuffle); queries broadcast; the ADC sum is one expression per
(query, candidate); top-k is a per-query window. Training cost is
one Spark job per Lloyd's round for all m subspaces, driver state
m·k'·d/m = k'·d integers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from flink_application_spark.operators.ivf_exact import (
    ivf_cell_ctes,
    ivf_cells,
    rank_topk,
    rank_topk_sql,
)
from flink_application_spark.operators.kmeans_exact import (
    SCALE,
    _assign_expr,
    d2_sql,
    int_array,
    kmeans_exact_cte_parts_prefixed,
    lloyd_ppm,
    quantize_ppm,
)

M = 8  # subspaces
DSUB = 8  # dims per subspace (m · dsub = 64)
KCODE = 8  # codewords per subspace
ITERS = 3  # Lloyd's rounds per codebook

# emb_ivfadc_trained_topk's shape, read by both `ivfadc_exact_topk` and
# its replay: coarse cells and their exact Lloyd's rounds, residual
# subspaces (KCODE codewords, ITERS rounds each), probed cells, queries
# and neighbours per query
IVF_CELLS = 8
IVF_COARSE_ITERS = 5
IVF_M = 4
IVF_PROBE = 3
IVF_QUERIES = 5
IVF_TOPK = 5
_IVF_DSUB = M * DSUB // IVF_M


def pq_exact_train(emb: DataFrame) -> list[list[list[int]]]:
    """Per-subspace exact-integer codebooks: M lists of KCODE ppm
    codewords (DSUB ints each). Slicing after quantization equals
    quantizing then slicing (transform is element-wise), which is what
    the oracle's `e[lo:hi]` slice of the shared quantized base does."""
    return lloyd_ppm(quantize_ppm(emb), KCODE, ITERS, M)[0]


def _slice(s: int, dsub: int) -> str:
    return f"slice(e, {s * dsub + 1}, {dsub})"


def _codes(books: list[list[list[int]]], dsub: int) -> Column:
    """``codes``: per subspace, the nearest codeword's index for e."""
    return F.expr(
        "array("
        + ", ".join(
            _assign_expr(book, _slice(s, dsub)) + ".cluster"
            for s, book in enumerate(books)
        )
        + ")"
    ).alias("codes")


def _adc_tables(books: list[list[list[int]]], dsub: int) -> list[Column]:
    """``_adc_{s}``: exact d² from e's s-th slice to every codeword of
    subspace s — the per-query ADC lookup tables."""
    return [
        F.expr(
            "array(" + ", ".join(d2_sql(_slice(s, dsub), cv) for cv in book) + ")"
        ).alias(f"_adc_{s}")
        for s, book in enumerate(books)
    ]


def _adc_sum(m: int) -> Column:
    """A candidate's ADC score: its m codes' entries in the tables."""
    return F.expr(
        " + ".join(
            f"element_at(_adc_{s}, element_at(codes, {s + 1}) + 1)" for s in range(m)
        )
    )


def pq_exact_adc_topk(
    emb: DataFrame,
    k: int = 10,
    *,
    n_queries: int = 5,
) -> DataFrame:
    """(query_id, vec_id, adc_q, rank): ADC top-k of the first
    `n_queries` vec_ids under exact-trained codebooks — every number
    an exact integer, hash-replayable end to end."""
    books = pq_exact_train(emb)
    if not books or not books[0]:
        return emb.sparkSession.createDataFrame(
            [], "query_id bigint, vec_id bigint, adc_q bigint, rank int"
        )
    q = quantize_ppm(emb)
    coded = q.select("vec_id", _codes(books, DSUB))
    # ADC discipline (same as pq.pq_adc_topk): per QUERY, precompute
    # the KCODE-entry exact-d² table per subspace ONCE — per candidate
    # the score is then m table lookups + adds, never a fold
    queries = q.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), *_adc_tables(books, DSUB)
    )
    cand = (
        coded.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", _adc_sum(M).alias("adc_q"))
    )
    return rank_topk(cand, "adc_q", k)


def _union_cte(name: str, selects) -> str:
    return f"{name} AS (\n" + "\n  UNION ALL\n".join(selects) + "\n)"


def _codebook_ctes(
    base: str, m: int, dsub: int, k_code: int, iters: int
) -> list[str]:
    """The replay of `lloyd_ppm(…, m)` over ``{base}(vec_id, e)``: per
    subspace s a prefixed kmeans_exact unroll over e[lo:hi] and the
    rows' codes under its last round, then codes(vec_id, s, code) and
    books(s, cluster, cv)."""
    d2 = (
        "list_sum(list_transform(list_zip(q.e, c.cv),"
        " p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )
    parts = []
    for s in range(m):
        lo, hi = s * dsub + 1, (s + 1) * dsub
        parts.extend(
            kmeans_exact_cte_parts_prefixed(
                k_code,
                iters,
                dsub,
                prefix=f"s{s}",
                q_sql=f"""s{s}q AS MATERIALIZED (
  SELECT vec_id, e[{lo}:{hi}] AS e FROM {base}
)""",
            )
        )
        # argmin-as-aggregate (the kmeans_exact a{t} encoding): the
        # packed min(d2·k+code) key replaces the per-vector window
        # sort measured superlinear in DuckDB at 8× fixture growth
        parts.append(
            f"""scode{s} AS (
  SELECT vec_id, best % {k_code} AS code FROM (
    SELECT q.vec_id, min({d2} * {k_code} + c.cluster) AS best
    FROM s{s}q q CROSS JOIN s{s}c{iters} c
    GROUP BY q.vec_id
  )
)"""
        )
    parts.append(
        _union_cte(
            "codes", (f"  SELECT vec_id, {s} AS s, code FROM scode{s}" for s in range(m))
        )
    )
    parts.append(
        _union_cte(
            "books",
            (f"  SELECT {s} AS s, cluster, cv FROM s{s}c{iters}" for s in range(m)),
        )
    )
    return parts


def pq_exact_adc_oracle_sql(
    k: int = 10,
    *,
    n_queries: int = 5,
    dim: int = 64,
) -> str:
    """The DuckDB replay: one prefixed kmeans_exact training unroll per
    subspace over `e[lo:hi]` slices of the shared quantized base, then
    long-format (vec, s, code) assignment, (s, code, codeword) books,
    per-subspace exact d², and the summed ADC top-k."""
    d2 = (
        "list_sum(list_transform(list_zip(q.e, c.cv),"
        " p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )
    parts = [
        f"""qb AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding,
                        v -> CAST(round(CAST(v AS DOUBLE) * {SCALE}) AS BIGINT))
           AS e
  FROM embeddings WHERE embedding IS NOT NULL
)"""
    ]
    parts += _codebook_ctes("qb", M, DSUB, KCODE, ITERS)
    parts.append(
        _union_cte(
            "qsub",
            (
                f"  SELECT vec_id AS query_id, {s} AS s,"
                f" e[{s * DSUB + 1}:{(s + 1) * DSUB}] AS qv"
                f" FROM qb WHERE vec_id < {n_queries}"
                for s in range(M)
            ),
        )
    )
    parts.append(
        """persub AS (
  SELECT q.query_id, c.vec_id,
         CAST(list_sum(list_transform(list_zip(q.qv, b.cv),
                                      z -> (z[1] - z[2]) * (z[1] - z[2])))
              AS BIGINT) AS d2s
  FROM qsub q
  JOIN codes c ON c.s = q.s
  JOIN books b ON b.s = q.s AND b.cluster = c.code
  WHERE c.vec_id <> q.query_id
)"""
    )
    parts.append(
        """cand AS (
  SELECT query_id, vec_id, CAST(sum(d2s) AS BIGINT) AS adc_q
  FROM persub GROUP BY query_id, vec_id
)"""
    )
    return rank_topk_sql(parts, "adc_q", k)


def ivfadc_exact_topk(emb: DataFrame) -> DataFrame:
    """(query_id, vec_id, est_d2, rank): IVFADC (TPAMI'11 §IV) over
    exact-integer quantizers, trained in the call. The IVF_CELLS coarse
    ppm centroids are IVF_COARSE_ITERS `lloyd_ppm` rounds; each vector
    is routed to its nearest one and its RESIDUAL (ppm vector −
    centroid, exact integers) is product-quantized with `lloyd_ppm`
    codebooks (IVF_M × KCODE codewords, ITERS rounds each). Queries
    probe their IVF_PROBE nearest cells; est_d2 sums IVF_M lookups in
    per-(query, cell) exact-d² ADC tables of the query residual — an
    exact BIGINT, so the whole stack replays in
    `ivfadc_exact_oracle_sql`."""
    q = quantize_ppm(emb)
    coarse = lloyd_ppm(q, IVF_CELLS, IVF_COARSE_ITERS)[0][0]
    if not coarse:  # empty / all-NULL corpus: no index, no neighbors
        return emb.sparkSession.createDataFrame(
            [], "query_id bigint, vec_id bigint, est_d2 bigint, rank int"
        )
    table = "array(" + ", ".join(int_array(cv) for cv in coarse) + ")"

    def residual(vec: str) -> Column:
        return F.expr(f"zip_with({vec}, element_at({table}, cluster + 1), (a, b) -> a - b)")

    assigned, probes = ivf_cells(q, coarse, IVF_PROBE, IVF_QUERIES)
    res = assigned.select("vec_id", "cluster", residual("e").alias("e"))
    books = lloyd_ppm(res, KCODE, ITERS, IVF_M)[0]
    coded = res.select("vec_id", "cluster", _codes(books, _IVF_DSUB))
    # one exact-d² table per (query, probed cell, subspace) of the query
    # residual; a candidate's score is then m lookups + adds, never a fold
    probes = probes.select(
        "query_id", "cluster", residual("qv").alias("e")
    ).select("query_id", "cluster", *_adc_tables(books, _IVF_DSUB))
    cand = (
        coded.join(F.broadcast(probes), "cluster")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", _adc_sum(IVF_M).alias("est_d2"))
    )
    return rank_topk(cand, "est_d2", IVF_TOPK)


def ivfadc_exact_oracle_sql() -> str:
    """The DuckDB replay of `ivfadc_exact_topk` with the coarse
    quantizer trained in place: the shared kmeans_exact unroll, the
    final assignment and residuals, one prefixed residual-codebook
    unroll per subspace over `r[lo:hi]` slices, then long-format codes,
    per-(query, cell) residual ADC scores and the top-k window."""
    cf = f"c{IVF_COARSE_ITERS}"
    parts = ivf_cell_ctes(
        IVF_CELLS, IVF_COARSE_ITERS, IVF_PROBE, IVF_QUERIES, M * DSUB
    )
    parts.append(
        f"""res AS MATERIALIZED (
  SELECT a.vec_id, a.cluster,
         list_transform(list_zip(a.e, c.cv), p -> p[1] - p[2]) AS e
  FROM af a JOIN {cf} c USING (cluster)
)"""
    )
    parts += _codebook_ctes("res", IVF_M, _IVF_DSUB, KCODE, ITERS)
    parts.append(
        f"""qres AS (
  SELECT p.query_id, p.cluster,
         list_transform(list_zip(p.qv, c.cv), z -> z[1] - z[2]) AS qr
  FROM pr p JOIN {cf} c USING (cluster)
)"""
    )
    parts.append(
        _union_cte(
            "qsub",
            (
                f"  SELECT query_id, cluster, {s} AS s,"
                f" qr[{s * _IVF_DSUB + 1}:{(s + 1) * _IVF_DSUB}] AS qv FROM qres"
                for s in range(IVF_M)
            ),
        )
    )
    parts.append(
        """cand AS (
  SELECT q.query_id, a.vec_id,
         CAST(sum(list_sum(list_transform(list_zip(q.qv, b.cv),
                                          z -> (z[1] - z[2]) * (z[1] - z[2]))))
              AS BIGINT) AS est_d2
  FROM qsub q
  JOIN af a ON a.cluster = q.cluster AND a.vec_id <> q.query_id
  JOIN codes c ON c.vec_id = a.vec_id AND c.s = q.s
  JOIN books b ON b.s = q.s AND b.cluster = c.code
  GROUP BY q.query_id, a.vec_id
)"""
    )
    return rank_topk_sql(parts, "est_d2", IVF_TOPK)
