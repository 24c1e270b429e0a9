"""Exact-integer power iteration — the oracle-replayable spectral
step.

A float PCA cannot be replayed: its Gram accumulation is a float sum
(order-dependent ulps) and a driver eigensolver (numpy eigh / float
power iteration) has no SQL replay. This module, the one PCA trainer,
applies the round-7 determinism recipe to the spectral
blocker class, completing the trio (seeded indexes → retrieval,
integer MMR/Lloyd's → greedy & training, THIS → iterative linear
algebra):

- coordinates quantize once to ppm BIGINTs
  (`kmeans_exact.quantize_ppm`);
- the Gram matrix is EXACT integer Σ xᵢxⱼ (int64 matmul partials over
  ≤10k-row chunks — per-row products ≤ (1.1e6)² ≈ 1.2e12, so a chunk
  partial is ≤ 1.2e16 ≪ 2⁶³ regardless of Arrow batch sizing or rows
  per partition — combined by an order-free DECIMAL(38,0) groupBy sum,
  the same unbounded headroom as the oracle's HUGEINT);
- each power-iteration step is w = G·v in ARBITRARY-PRECISION integer
  arithmetic (Python bigint on the driver; HUGEINT in the DuckDB
  replay), renormalized by the max-|w| coordinate with TRUNCATING
  integer division (DuckDB's `//` truncates toward zero — Python's
  floors, so the driver mirrors truncation via a sign split);
- output is the full per-iteration trajectory as long rows
  (iteration, pos, v) — 64 exact integers per round, every one in the
  driver's value hash.

`tests/test_pca_exact.py` pins |cos| ≥ 0.999 vs numpy.linalg.eigh's
top eigenvector on a planted-spike corpus (the driver embeddings are
deliberately isotropic — top eigengap ≈ 1.07 — so convergence there is
slow for ANY power method; on the fixture the pinned property is the
guaranteed one, Rayleigh-quotient monotonicity), an exact int64
numpy-reference check of the Gram, and bit-determinism under
repartitioning. `pca_top2_exact_projection` extends the recipe to two
components of the integer covariance (emb_pca_top2_projection).

Scale shape: identical to the float Gram sketch (`pca.gram_long`) —
one Gram pass whose shuffle carries O(d²) integers per partition, then
O(d²)-per-iteration driver math; only the top-2 projection scans the
corpus once more.
"""

from __future__ import annotations

from math import isqrt
from typing import Iterator

from pyspark.sql import DataFrame, functions as F

from flink_application_spark.operators.kmeans_exact import SCALE, int_array, ppm, quantize_ppm


def int_gram_long(q: DataFrame, dim: int = 64) -> DataFrame:
    """(i, j, g): exact integer Gram Σ eᵢ·eⱼ of ppm vectors — the
    integer twin of pca.gram_long (full matrix, not upper triangle:
    the matvec replay wants direct lookups). Partials are int64 over
    bounded ≤10k-row chunks; the cross-partial sum is DECIMAL(38,0)
    so the Spark side carries the oracle's HUGEINT headroom (a plain
    BIGINT sum would silently wrap in non-ANSI mode at ~7.6e6 ppm
    rows per partition)."""
    import numpy as np
    import pandas as pd

    from flink_application_spark.catalog import fan_out

    # 1e4 rows × (1.1e6 ppm)² ≈ 1.2e16 ≪ 2⁶³: each chunk partial is
    # int64-safe independent of Arrow batch size or partition size.
    chunk = 10_000

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ii, jj = np.indices((dim, dim))
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.array(pdf["e"].tolist(), dtype=np.int64)
            if x.shape[1] != dim:
                raise ValueError(f"expected dim {dim}, got {x.shape[1]}")
            for s in range(0, len(x), chunk):
                blk = x[s : s + chunk]
                yield pd.DataFrame(
                    {"i": ii.ravel(), "j": jj.ravel(), "g": (blk.T @ blk).ravel()}
                )

    return (
        fan_out(q.select("e"))
        .mapInPandas(part, schema="i int, j int, g long")
        .groupBy("i", "j")
        .agg(F.sum(F.col("g").cast("decimal(38,0)")).alias("g"))
    )


def _trunc_div(x: int, d: int) -> int:
    """Integer division truncating toward zero — DuckDB's `//`
    semantics (Python's // floors, which differs for negative x)."""
    q = abs(x) // d
    return q if x >= 0 else -q


def pca_power_exact_trajectory(
    emb: DataFrame, iters: int = 8, dim: int = 64
) -> DataFrame:
    """Run `iters` exact-integer power-iteration rounds from the
    all-ones ppm start vector and return every round's renormalized
    vector as long rows (iteration, pos, v) — bit-identical to the
    unrolled SQL replay (`pca_power_exact_oracle_sql`)."""
    spark = emb.sparkSession
    q = quantize_ppm(emb)
    cells = int_gram_long(q, dim).collect()
    if not cells:  # empty / all-NULL input: the oracle's g CTE is
        # empty so every unrolled stage is too — emit zero rows, not
        # iters·dim zero-vector rows
        return spark.createDataFrame([], "iteration bigint, pos bigint, v bigint")
    G = [[0] * dim for _ in range(dim)]
    for r in cells:
        G[r["i"]][r["j"]] = int(r["g"])
    v = [SCALE] * dim
    rows: list[tuple[int, int, int]] = []
    for t in range(1, iters + 1):
        v = _power_round(G, v)
        rows.extend((t, p, v[p]) for p in range(dim))
    return spark.createDataFrame(rows, "iteration bigint, pos bigint, v bigint")


def _renorm(w: list[int]) -> list[int]:
    """Scale so the max-|w| coordinate is ±SCALE (truncating division;
    an all-zero w stays zero)."""
    mw = max(abs(x) for x in w) or 1
    return [_trunc_div(x * SCALE, mw) for x in w]


def _power_round(mat: list[list[int]], v: list[int]) -> list[int]:
    """One power-iteration round: w = mat·v, renormalized."""
    return _renorm([sum(a * b for a, b in zip(row, v)) for row in mat])


def _base_ctes(dim: int, cols: str = "") -> list[str]:
    """The replays' q (ppm vectors, plus `cols`) and g (HUGEINT Gram
    cells (i, j, x)) stages."""
    return [
        f"""q AS MATERIALIZED (
  SELECT {cols}list_transform(embedding,
                        v -> CAST(round(CAST(v AS DOUBLE) * {SCALE}) AS BIGINT))
           AS e
  FROM embeddings WHERE embedding IS NOT NULL
)""",
        f"""g AS MATERIALIZED (
  SELECT i.i AS i, j.j AS j,
         sum(CAST(e[i.i + 1] AS HUGEINT) * e[j.j + 1]) AS x
  FROM q
  CROSS JOIN (SELECT unnest(range(0, {dim})) AS i) i
  CROSS JOIN (SELECT unnest(range(0, {dim})) AS j) j
  GROUP BY 1, 2
)""",
    ]


def pca_power_exact_oracle_sql(iters: int = 8, dim: int = 64) -> str:
    """DuckDB replay: exact HUGEINT Gram + `iters` matvec/renormalize
    stages unrolled as CTEs (truncating `//`, max-|w| normalizer).
    Every stage is AS MATERIALIZED: DuckDB inlines plain CTEs, and
    with v{t} referencing w{t} twice the unrolled chain would
    re-expand the 12M-row Gram aggregation 2^iters times (measured:
    the un-materialized form ran >9 min; materialized, seconds)."""
    parts = _base_ctes(dim) + [
        f"""v0 AS MATERIALIZED (
  SELECT unnest(range(0, {dim})) AS pos, CAST({SCALE} AS HUGEINT) AS v
)""",
    ]
    for t in range(1, iters + 1):
        parts.append(
            f"""w{t} AS MATERIALIZED (
  SELECT g.i AS pos, sum(g.x * v.v) AS w
  FROM g JOIN v{t - 1} v ON v.pos = g.j
  GROUP BY g.i
)"""
        )
        parts.append(
            f"""v{t} AS MATERIALIZED (
  SELECT pos, (w * {SCALE}) // greatest((SELECT max(abs(w)) FROM w{t}), 1) AS v
  FROM w{t}
)"""
        )
    union = "\nUNION ALL\n".join(
        f"SELECT {t} AS iteration, CAST(pos AS BIGINT) AS pos,"
        f" CAST(v AS BIGINT) AS v FROM v{t}"
        for t in range(1, iters + 1)
    )
    body = ",\n".join(parts)
    return f"WITH {body}\n{union}"


# DuckDB's HUGEINT, the replay's widest integer
_HUGEINT_MAX = 2**127 - 1

# Power rounds per component of emb_pca_top2_projection. The driver
# embeddings are near-isotropic (top eigenvalue ratios 1.07 / 1.04 at
# sf0.001, 1.013 / 1.021 at sf0.01), so the error shrinks only by that
# ratio a round: 500 rounds leave |cos| to numpy eigh's top two
# ≥ 1 − 1e-9 at sf0.001 and ≥ 0.9999 at sf0.01.
TOP2_ITERS = 500


def _ramp(dim: int) -> list[int]:
    """Power-iteration start (p+1)·⌊SCALE/dim⌋: unlike all-ones it is
    not orthogonal to a zero-sum direction such as e₀ − e₁."""
    return [(p + 1) * (SCALE // dim) for p in range(dim)]


def _round_half_away(s: int, n: int) -> int:
    """s/n rounded half away from zero, in integers (n > 0)."""
    q = (2 * abs(s) + n) // (2 * n)
    return q if s >= 0 else -q


def int_moments(q: DataFrame, dim: int = 64) -> tuple[int, list[int], list[list[int]]]:
    """(n, s, G) of the ppm rows ``q(e)``: row count, coordinate sums
    and exact Gram — one `int_gram_long` pass over e with a constant 1
    appended, whose last row and column are s and n."""
    cells = int_gram_long(
        q.select(F.concat("e", F.array(F.lit(1).cast("bigint"))).alias("e")), dim + 1
    ).collect()
    g = [[0] * (dim + 1) for _ in range(dim + 1)]
    for r in cells:
        g[r["i"]][r["j"]] = int(r["g"])
    return g[dim][dim], g[dim][:dim], [row[:dim] for row in g[:dim]]


def top2_components_exact(
    cov: list[list[int]], iters: int = TOP2_ITERS
) -> tuple[list[int], list[int]]:
    """The two leading eigen-directions of an integer covariance as ppm
    vectors. Component 1 is `iters` max-|w| power rounds from the ramp;
    component 2 runs the same rounds with an integer Gram–Schmidt step
    against component 1 in each: p = renorm(C·v), then
    v = renorm(p·(u·u) − (p·u)·u)."""
    dim = len(cov)
    u = _ramp(dim)
    for _ in range(iters):
        u = _power_round(cov, u)
    uu = sum(x * x for x in u)
    v = _ramp(dim)
    for _ in range(iters):
        p = _power_round(cov, v)
        pu = sum(a * b for a, b in zip(p, u))
        v = _renorm([a * uu - pu * b for a, b in zip(p, u)])
    return u, v


def pca_top2_exact_projection(
    emb: DataFrame, iters: int = TOP2_ITERS, dim: int = 64
) -> DataFrame:
    """The non-null-embedding rows of `emb` plus ``pc1``/``pc2``: exact
    BIGINT projections Σⱼ (eⱼ − μⱼ)·cⱼ of the ppm vector e onto the two
    `top2_components_exact` directions of the integer covariance
    C = n·G − s·sᵀ (n²× the population covariance), centered by the
    ppm mean μ = round(s/n) (half away from zero). Bit-identical to
    `pca_top2_exact_oracle_sql`.

    HUGEINT headroom: the replay's widest value is w·SCALE in a power
    round, at most dim·max(n·max|G|, max|C|)·SCALE². The driver raises
    ValueError when that reaches 2¹²⁷ instead of letting the replay
    overflow; for |coordinates| ≤ 1 (ppm ≤ SCALE) at dim 64 the bound
    holds up to about 1.6M rows. It also raises when a projection could
    leave BIGINT (Σⱼ (√Gⱼⱼ + |μⱼ|)·SCALE ≥ 2⁶³)."""
    emb = emb.filter(F.col("embedding").isNotNull()).withColumn("_e", ppm())
    n, s, G = int_moments(emb.select(F.col("_e").alias("e")), dim)
    cov = [[n * G[i][j] - s[i] * s[j] for j in range(dim)] for i in range(dim)]
    widest = max(n * max(map(abs, row)) for row in G)
    widest = max(widest, max(abs(x) for row in cov for x in row))
    if dim * widest * SCALE**2 > _HUGEINT_MAX:
        raise ValueError(
            f"pca_top2_exact_projection: {n} rows overflow the HUGEINT replay"
        )
    mu = [_round_half_away(x, n) for x in s] if n else [0] * dim
    if sum(isqrt(G[j][j]) + 1 + abs(mu[j]) for j in range(dim)) * SCALE >= 2**63:
        raise ValueError("pca_top2_exact_projection: projections overflow BIGINT")
    centered = f"zip_with(_e, {int_array(mu)}, (a, b) -> a - b)"
    pcs = [
        F.expr(
            f"aggregate(zip_with({centered}, {int_array(c)}, (a, b) -> a * b),"
            " 0L, (acc, x) -> acc + x)"
        ).alias(f"pc{i + 1}")
        for i, c in enumerate(top2_components_exact(cov, iters))
    ]
    return emb.select("*", *pcs).drop("_e")


def _dot_sql(a: str, b: str) -> str:
    """SQL: exact dot product of the integer lists `a` and `b`."""
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}), z -> z[1] * z[2]),"
        " (x, y) -> x + y)"
    )


def _renorm_sql(col: str) -> str:
    """SQL: the list `col` renormalized as `_renorm` does."""
    return (
        f"list_transform({col}, x -> (x * {SCALE})"
        f" // greatest(list_max(list_transform({col}, y -> abs(y))), 1))"
    )


def pca_top2_exact_oracle_sql(iters: int = TOP2_ITERS, dim: int = 64) -> str:
    """DuckDB replay of `pca_top2_exact_projection` over the embeddings
    table, (vec_id, label, pc1, pc2): HUGEINT moments, covariance and
    ppm mean as MATERIALIZED CTEs, then component 1's `iters` power
    rounds and component 2's rounds with the Gram–Schmidt step as two
    recursive CTEs over HUGEINT lists (one row per round: an unrolled
    chain of per-round CTEs costs ~70 ms a round to plan and run), and
    the exact projections. DuckDB raises on HUGEINT overflow rather
    than wrapping."""
    ramp = f"CAST({_ramp(dim)} AS HUGEINT[])"
    matvec = f"list_transform(c, r -> {_dot_sql('r', 'v')})"
    parts = _base_ctes(dim, "vec_id, label, ") + [
        f"""s AS MATERIALIZED (
  SELECT p.pos, sum(CAST(e[p.pos + 1] AS HUGEINT)) AS s, count(*) AS n
  FROM q CROSS JOIN (SELECT unnest(range(0, {dim})) AS pos) p
  GROUP BY p.pos
)""",
        """cov AS MATERIALIZED (
  SELECT list(r ORDER BY i) AS c
  FROM (SELECT g.i, list(si.n * g.x - si.s * sj.s ORDER BY g.j) AS r
        FROM g JOIN s si ON si.pos = g.i JOIN s sj ON sj.pos = g.j
        GROUP BY g.i)
)""",
        """mu AS MATERIALIZED (
  SELECT list(CASE WHEN s >= 0 THEN (2 * s + n) // (2 * n)
                   ELSE -((2 * (-s) + n) // (2 * n)) END ORDER BY pos) AS mu
  FROM s
)""",
        f"""u_it(t, v) AS (
  SELECT 0, {ramp}
  UNION ALL
  SELECT t + 1, {_renorm_sql('w')}
  FROM (SELECT t, {matvec} AS w FROM u_it, cov WHERE t < {iters})
)""",
        f"""u AS MATERIALIZED (
  SELECT v AS u, {_dot_sql('v', 'v')} AS uu FROM u_it WHERE t = {iters}
)""",
        f"""v_it(t, v) AS (
  SELECT 0, {ramp}
  UNION ALL
  SELECT t + 1, {_renorm_sql('g')}
  FROM (SELECT t, list_transform(list_zip(p, u), z -> z[1] * uu - pu * z[2]) AS g
        FROM (SELECT t, p, u, uu, {_dot_sql('p', 'u')} AS pu
              FROM (SELECT t, {_renorm_sql('w')} AS p
                    FROM (SELECT t, {matvec} AS w FROM v_it, cov WHERE t < {iters}))
              CROSS JOIN u))
)""",
        f"""comps AS MATERIALIZED (
  SELECT mu.mu, u.u AS c1, v_it.v AS c2
  FROM mu CROSS JOIN u CROSS JOIN v_it WHERE v_it.t = {iters}
)""",
    ]
    body = ",\n".join(parts)
    return f"""WITH RECURSIVE {body}
SELECT q.vec_id, q.label,
       CAST({_dot_sql('list_transform(list_zip(q.e, comps.mu), z -> z[1] - z[2])', 'comps.c1')}
            AS BIGINT) AS pc1,
       CAST({_dot_sql('list_transform(list_zip(q.e, comps.mu), z -> z[1] - z[2])', 'comps.c2')}
            AS BIGINT) AS pc2
FROM q CROSS JOIN comps"""
