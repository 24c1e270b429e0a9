"""IVFADC — the full FAISS billion-scale ANN stack composed from the
pieces this engine already pins separately: a coarse quantizer (IVF)
routes each vector to a cluster, the RESIDUAL (vector − coarse
centroid) is product-quantized, and queries probe a few clusters
scoring candidates by asymmetric distance over codes only (Jégou et
al., TPAMI 2011, §IV).

Both registered forms are deterministic end to end, so the ENTIRE
stack — coarse assignment, residuals, residual codebooks, codes, probe
choice, ADC estimates, final ranks — is reproduced bit-for-bit by a
DuckDB oracle: `emb_ivfadc_topk` uses k-smallest-id seed quantizers
(float folds), `emb_ivfadc_trained_topk` exact-integer Lloyd's
quantizers (`operators/pq_exact.ivfadc_exact_topk`). All corpus-side
work is scan-local JVM folds; the probe join is an equi-join on the
coarse cluster id; the ADC scoring reads codes, never embeddings.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.operators.kmeans import assign_clusters, init_centroids
from flink_application_spark.operators.pq import (
    adc_table_expr,
    d2_lit_sql,
    pq_encode,
)
from flink_application_spark.operators.pq_exact import (
    ITERS,
    IVF_CELLS,
    IVF_COARSE_ITERS,
    IVF_M,
    IVF_PROBE,
    KCODE,
    ivfadc_exact_oracle_sql,
    ivfadc_exact_topk,
)
from flink_application_spark.plans.registry import register

_NC = 8      # coarse clusters
_M = 4       # PQ subspaces on the residual
_KC = 8      # codes per subspace
_DIM = 64
_SUB = _DIM // _M
_NQ = 5
_PROBE = 3
_TOPK = 5


def _centroid_lookup(cents: list[list[float]], idx: Column) -> Column:
    """centroid[idx] as a literal array-of-arrays element_at."""
    from flink_application_spark.operators.pq import lit_double_array

    table = F.array(*[lit_double_array(c) for c in cents])
    return F.element_at(table, idx + 1)


def _residual(emb_col: Column, cents: list[list[float]], cluster: Column) -> Column:
    return F.zip_with(
        emb_col, _centroid_lookup(cents, cluster), lambda x, c: x.cast("double") - c
    )


def _ivfadc_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    emb = emb.filter(F.col("embedding").isNotNull())
    coarse = init_centroids(emb, _NC, "vec_id")

    # persist: `assigned` feeds BOTH the PQ encode and the cluster
    # re-join below (and the seed-residual collect) — without the
    # barrier the 8-centroid assignment folds run three times
    assigned = assign_clusters(emb, coarse).select(
        "vec_id",
        "cluster",
        _residual(F.col("embedding"), coarse, F.col("cluster")).alias("residual"),
    ).persist()

    # residual codebooks: ARBITRARY DETERMINISTIC SEED, not a sample
    # — the k-smallest-id residuals exist so the DuckDB oracle can
    # reproduce the identical codebooks from a convention; they make
    # no representativeness claim (emb_ivfadc_trained_topk trains them)
    seed_res = assigned.orderBy("vec_id").limit(_KC).select("residual").collect()
    books = [
        [[float(x) for x in r[0][s * _SUB : (s + 1) * _SUB]] for r in seed_res]
        for s in range(_M)
    ]

    codes = pq_encode(
        assigned.select("vec_id", "cluster", F.col("residual").alias("embedding")),
        books,
        _DIM,
    ).join(assigned.select("vec_id", "cluster"), "vec_id")

    # query probe: top n_probe coarse centroids by exact d2 (JVM fold,
    # array_sort of (d2, cluster) structs — deterministic tie-break)
    q = emb.filter(F.col("vec_id") < _NQ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    cands = F.expr(
        "array("
        + ", ".join(
            f"named_struct('d2', {d2_lit_sql('qv', c)}, 'cluster', {i})"
            for i, c in enumerate(coarse)
        )
        + ")"
    )
    probed = q.select(
        "query_id",
        "qv",
        F.explode(F.slice(F.array_sort(cands), 1, _PROBE)).alias("p"),
    ).select("query_id", "qv", F.col("p.cluster").alias("cluster"))

    # per (query, probed cluster): query residual + ADC tables
    probed = probed.withColumn(
        "qr", _residual(F.col("qv"), coarse, F.col("cluster"))
    )
    for s, book in enumerate(books):
        probed = probed.withColumn(
            f"_adc_{s}",
            adc_table_expr(f"slice(qr, {s * _SUB + 1}, {_SUB})", book),
        )

    joined = codes.join(
        F.broadcast(probed.drop("qv", "qr")), "cluster"
    ).filter(F.col("vec_id") != F.col("query_id"))
    est = None
    for s in range(_M):
        term = F.element_at(F.col(f"_adc_{s}"), F.col(f"code_{s}") + 1)
        est = term if est is None else est + term
    scored = joined.select("query_id", "vec_id", F.round(est, 6).alias("est_d2"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("est_d2").asc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOPK)
        .select("query_id", "vec_id", "est_d2", "rank")
    )


# ---------------------------------------------------------------------------
# Oracle
# ---------------------------------------------------------------------------


def _sub_slice(col: str, s: int) -> str:
    return f"{col}[{s * _SUB + 1}:{(s + 1) * _SUB}]"


def _d2_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        "p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )


def _oracle() -> str:
    parts = [
        """base AS (
  SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS e
  FROM embeddings WHERE embedding IS NOT NULL
),
coarse AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, e AS c
  FROM base ORDER BY vec_id LIMIT """
        + str(_NC)
        + """
),
assigned AS (
  SELECT vec_id, e, cluster, c FROM (
    SELECT b.vec_id AS vec_id, b.e AS e, coarse.cluster AS cluster, coarse.c AS c,
           row_number() OVER (
             PARTITION BY b.vec_id
             ORDER BY """
        + _d2_sql("b.e", "coarse.c")
        + """, coarse.cluster
           ) AS rn
    FROM base b CROSS JOIN coarse
  ) WHERE rn = 1
),
res AS (
  SELECT vec_id, cluster,
         list_transform(list_zip(e, c), p -> p[1] - p[2]) AS r
  FROM assigned
)"""
    ]
    for s in range(_M):
        parts.append(
            f"""rcent_{s} AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code,
         {_sub_slice('r', s)} AS c
  FROM res ORDER BY vec_id LIMIT {_KC}
),
best_{s} AS (
  SELECT vec_id, code FROM (
    SELECT res.vec_id AS vec_id, rcent_{s}.code AS code,
           row_number() OVER (
             PARTITION BY res.vec_id
             ORDER BY {_d2_sql(_sub_slice('res.r', s), f'rcent_{s}.c')}, rcent_{s}.code
           ) AS rn
    FROM res CROSS JOIN rcent_{s}
  ) WHERE rn = 1
)"""
        )
    parts.append(
        f"""codes AS (
  SELECT res.vec_id AS vec_id, res.cluster AS cluster,
         {", ".join(f"best_{s}.code AS code_{s}" for s in range(_M))}
  FROM res {" ".join(f"JOIN best_{s} ON best_{s}.vec_id = res.vec_id" for s in range(_M))}
),
probes AS (
  SELECT query_id, qe, cluster, c FROM (
    SELECT b.vec_id AS query_id, b.e AS qe, coarse.cluster AS cluster, coarse.c AS c,
           row_number() OVER (
             PARTITION BY b.vec_id
             ORDER BY {_d2_sql('b.e', 'coarse.c')}, coarse.cluster
           ) AS rn
    FROM base b CROSS JOIN coarse
    WHERE b.vec_id < {_NQ}
  ) WHERE rn <= {_PROBE}
),
qres AS (
  SELECT query_id, cluster,
         list_transform(list_zip(qe, c), p -> p[1] - p[2]) AS qr
  FROM probes
),
pairs AS (
  SELECT q.query_id AS query_id, k.vec_id AS vec_id,
         round("""
        + " + ".join(
            f"""(SELECT {_d2_sql(_sub_slice('q.qr', s), f'rcent_{s}.c')}
             FROM rcent_{s} WHERE rcent_{s}.code = k.code_{s})"""
            for s in range(_M)
        )
        + f""", 6) AS est_d2
  FROM qres q JOIN codes k ON k.cluster = q.cluster AND k.vec_id <> q.query_id
)
SELECT query_id, vec_id, est_d2, rank FROM (
  SELECT query_id, vec_id, est_d2,
         row_number() OVER (
           PARTITION BY query_id ORDER BY est_d2, vec_id
         ) AS rank
  FROM pairs
) WHERE rank <= {_TOPK}"""
    )
    return "WITH " + ",\n".join(parts)


@register(
    "emb_ivfadc_topk",
    _oracle(),
    doc=f"IVFADC (TPAMI'11 §IV — the FAISS billion-scale stack): "
    f"{_NC}-cluster coarse quantizer, residual product quantization "
    f"({_M}×{_KC} codebooks), {_PROBE}-probe ADC search for {_NQ} "
    "queries. Probe join is equi on the coarse cluster; scoring reads "
    "codes only. Deterministic seeds end-to-end — every code, probe "
    "and rank oracle-reproduced.",
    tags=("embeddings", "quantization", "ann", "similarity"),
)
def q_ivfadc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ivfadc_spark(spark, sf_dir)


@register(
    "emb_ivfadc_trained_topk",
    ivfadc_exact_oracle_sql(),
    doc=f"IVFADC with TRAINED quantizers (TPAMI'11 §IV as written), "
    f"exact-integer end to end and trained in the call: the "
    f"{IVF_CELLS}-cell coarse quantizer is {IVF_COARSE_ITERS} exact "
    f"Lloyd's rounds over ppm vectors, the {IVF_M}×{KCODE} residual "
    f"codebooks {ITERS} exact rounds over integer ppm residuals; codes, "
    f"{IVF_PROBE}-probe choice and the BIGINT ADC estimates follow. Same "
    "plan shape as the seeded twin emb_ivfadc_topk (equi probe join, "
    "codes-only ADC); DuckDB replays the whole lifecycle (coarse "
    "unroll + one prefixed residual unroll per subspace).",
    tags=("embeddings", "quantization", "ann", "similarity", "training", "exact"),
)
def q_ivfadc_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return ivfadc_exact_topk(emb)
