"""Product quantization (Jégou, Douze, Schmid, TPAMI 2011 — the
FAISS ``IVFADC`` compression standard): split each d-dim vector into m
subvectors, learn a small codebook per subspace, store each vector as
m one-byte codes. 64-dim float (256 B) → 4 codes (4 B) at the demo
parameters — the memory step that makes billion-vector ANN fit.

Spark-first shape:

- **codebooks**: per subspace, the deterministic k-smallest-id seed
  centroids (same no-RNG contract as `operators/kmeans.py`; trained
  codebooks are exact-integer, `operators/pq_exact.py`);
- **encoding**: per subspace an `array_min( (d2, code) struct )`
  argmin over broadcast literal sub-centroids — scan-local JVM folds,
  zero shuffle, exactly the `assign_clusters` pattern on a slice;
- **ADC search** (asymmetric distance): the query stays full-precision
  — per subspace a lookup table of ||q_sub − centroid||² is computed
  ONCE per query (m·k tiny literals via the same fold) and the
  corpus-side distance is just m table lookups per vector: no
  embedding is read at query time, only codes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def _sub(col: Column, s: int, sub_dim: int) -> Column:
    return F.slice(col, s * sub_dim + 1, sub_dim)


def lit_double_array(vals) -> Column:
    """Literal array<double> built from ONE parsed SQL string instead
    of len(vals) py4j F.lit round trips — identical Catalyst literal
    after constant folding (CAST('<repr>' AS DOUBLE) parses the
    shortest round-trip repr back to the exact same double), but plan
    CONSTRUCTION drops from O(dim) JVM calls to one. On literal-heavy
    plans (PQ/IVFADC ADC tables: m*k centroids of dim/m doubles) this
    is seconds of driver time per query."""
    return F.expr(
        "array(" + ", ".join(f"CAST('{float(v)!r}' AS DOUBLE)" for v in vals) + ")"
    )


def d2_lit_sql(col_sql: str, centroid) -> str:
    """The _d2_lit fold as ONE SQL string (same tree, same left-to-
    right double fold → identical values) — callers that build m*k of
    these (ADC tables) parse one expression instead of issuing
    hundreds of py4j calls. `0D` keeps the accumulator double (a bare
    0.0 would parse as DECIMAL and change the arithmetic)."""
    arr = "array(" + ", ".join(f"CAST('{float(v)!r}' AS DOUBLE)" for v in centroid) + ")"
    return (
        f"aggregate(zip_with({col_sql}, {arr}, "
        "(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
        "0D, (acc, x) -> acc + x)"
    )


def adc_table_expr(col_sql: str, book) -> Column:
    """array(||col − centroid_c||² for c in book) as one parsed
    expression — the per-(query, subspace) ADC lookup table."""
    return F.expr(
        "array(" + ", ".join(d2_lit_sql(col_sql, c) for c in book) + ")"
    )


def _d2_lit(col: Column, centroid: list[float]) -> Column:
    c = lit_double_array(centroid)
    return F.aggregate(
        F.zip_with(col, c, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def seed_codebooks(
    emb: DataFrame, m: int, k: int, dim: int, id_col: str = "vec_id"
) -> list[list[list[float]]]:
    """codebooks[s][code] = sub-centroid: the k smallest ids' s-th
    subvectors (deterministic, no training)."""
    sub_dim = dim // m
    rows = (
        emb.filter(F.col("embedding").isNotNull())
        .orderBy(id_col)
        .limit(k)
        .select("embedding")
        .collect()
    )
    if len(rows) < k:
        raise ValueError(f"seed_codebooks: need {k} rows, found {len(rows)}")
    return [
        [
            [float(x) for x in r[0][s * sub_dim : (s + 1) * sub_dim]]
            for r in rows
        ]
        for s in range(m)
    ]


def pq_encode(
    emb: DataFrame, codebooks: list[list[list[float]]], dim: int, impl: str = "arrow"
) -> DataFrame:
    """(vec_id, code_0..code_{m-1}, recon_d2): per-subspace argmin code
    (ties → lowest code) plus total squared reconstruction error.

    ``impl="arrow"`` (default) runs the identical arithmetic as the
    literal-fold form in Arrow-batched numpy — per subspace, float64
    distance accumulation in the same left-to-right coordinate order
    and first-minimum argmin; recon sums the subspace d2s in subspace
    order starting from 0.0, exactly like the fold's column chain, and
    the final 6-decimal round stays in Spark (F.round is HALF_UP; numpy
    rounds half-even). Bit-equal to ``impl="fold"`` (pinned in
    tests/test_pq.py) so the DuckDB oracle hashes are unchanged; ~an
    order faster (Catalyst HOFs run interpreted)."""
    m = len(codebooks)
    sub_dim = dim // m
    out = emb.filter(F.col("embedding").isNotNull())
    if impl == "fold":
        recon = F.lit(0.0)
        for s, book in enumerate(codebooks):
            sub = _sub(F.col("embedding"), s, sub_dim)
            cands = F.array(
                *[
                    F.struct(
                        _d2_lit(sub, c).alias("d2"), F.lit(i).alias("code")
                    )
                    for i, c in enumerate(book)
                ]
            )
            best = F.array_min(cands)
            out = out.withColumn(f"code_{s}", best["code"]).withColumn(
                f"_d2_{s}", best["d2"]
            )
            recon = recon + F.col(f"_d2_{s}")
        return out.select(
            "vec_id",
            *[f"code_{s}" for s in range(m)],
            F.round(recon, 6).alias("recon_d2"),
        )

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    books = [
        [np.asarray(c, dtype=np.float64) for c in book] for book in codebooks
    ]
    fields = ", ".join([f"code_{s}:int" for s in range(m)] + ["recon:double"])

    # hint-less: `from __future__ import annotations` breaks resolution
    @pandas_udf(f"struct<{fields}>")
    def encode(embs):
        x = np.array(embs.tolist(), dtype=np.float64)
        n = len(x)
        cols: dict[str, object] = {}
        recon = np.zeros(n, dtype=np.float64)  # fold starts at 0.0
        for s, book in enumerate(books):
            sub = x[:, s * sub_dim : (s + 1) * sub_dim]
            d2 = np.empty((n, len(book)), dtype=np.float64)
            for ci, c in enumerate(book):
                acc = np.zeros(n, dtype=np.float64)
                for j in range(sub_dim):  # fold order
                    diff = sub[:, j] - c[j]
                    acc += diff * diff
                d2[:, ci] = acc
            code = np.argmin(d2, axis=1)  # first min ⇒ lowest code
            cols[f"code_{s}"] = code.astype("int32")
            recon = recon + d2[np.arange(n), code]  # subspace order
        cols["recon"] = recon
        return pd.DataFrame(cols)

    enc = out.withColumn("_enc", encode(F.col("embedding")))
    return enc.select(
        "vec_id",
        *[F.col(f"_enc.code_{s}").alias(f"code_{s}") for s in range(m)],
        F.round(F.col("_enc.recon"), 6).alias("recon_d2"),
    )


def pq_adc_topk(
    queries: DataFrame,
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    dim: int,
    k: int = 5,
) -> DataFrame:
    """Asymmetric-distance top-k: for each (query, subspace, code) the
    distance contribution ||q_sub − centroid[code]||² is a literal-fold
    column; the corpus side contributes ONLY its codes. Approximate by
    construction (quantization error) — ranked by estimated distance,
    ties → vec_id."""
    m = len(codebooks)
    sub_dim = dim // m
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    # per query: adc_s = array of ||q_sub - centroid_c||^2 over codes
    for s, book in enumerate(codebooks):
        q = q.withColumn(
            f"_adc_{s}",
            adc_table_expr(f"slice(qv, {s * sub_dim + 1}, {sub_dim})", book),
        )
    joined = codes.crossJoin(F.broadcast(q.drop("qv")))
    est = None
    for s in range(m):
        term = F.element_at(F.col(f"_adc_{s}"), F.col(f"code_{s}") + 1)
        est = term if est is None else est + term
    from pyspark.sql import Window

    scored = joined.filter(F.col("vec_id") != F.col("query_id")).select(
        "query_id", "vec_id", F.round(est, 6).alias("est_d2")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("est_d2").asc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "est_d2", "rank")
    )
