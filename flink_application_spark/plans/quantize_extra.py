"""Scalar (SQ8) and binary quantization — completing the vector-
compression family next to IVF/PQ/IVFADC:

- **SQ8** (FAISS ``ScalarQuantizer QT_8bit``): per-dimension linear
  quantization into one byte using corpus min/max — 64-dim float32
  (256 B) → 64 B with near-lossless recall for most retrieval. The
  dim-stats table is 64 rows; codes are a scan-local expression.
- **Binary quantization** (FAISS ``IndexBinaryFlat`` / sign-bit
  embeddings): 1 bit per dimension packed into two 32-bit halves of
  BIGINTs; similarity = Hamming distance via ``bit_count(xor(...))``
  — the cheapest possible scan (two XORs + popcounts per candidate),
  which is why production retrieval stacks brute-scan binary codes at
  billion scale instead of building an index.

Cross-engine determinism: quantization uses only min/max (exact, no
summation), elementwise double arithmetic, and ``floor(x + 0.5)``
(identical HALF_UP in both engines — neither Spark's HALF_UP round nor
numpy's half-even is shared, floor is); bit packing is integer CASE
sums; Hamming is integer XOR/popcount. Everything hash-matches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from flink_application_spark.plans._memo import nonnull_embeddings
from flink_application_spark.plans.registry import register

_DIM = 64
_NQ = 5
_TOPK = 10


@register(
    "emb_sq8_codes",
    f"""
WITH dims AS (SELECT unnest(generate_series(0, {_DIM - 1})) AS pos),
vals AS (
  SELECT e.vec_id AS vec_id, d.pos AS pos,
         CAST(e.embedding[d.pos + 1] AS DOUBLE) AS val
  FROM embeddings e CROSS JOIN dims d
  WHERE e.embedding IS NOT NULL
),
stats AS (
  SELECT pos, min(val) AS mn, max(val) AS mx FROM vals GROUP BY pos
)
SELECT v.vec_id AS vec_id, v.pos AS pos,
       CAST(CASE WHEN s.mx = s.mn THEN 0
            ELSE floor((v.val - s.mn) / (s.mx - s.mn) * 255 + 0.5) END
            AS BIGINT) AS code
FROM vals v JOIN stats s ON s.pos = v.pos
""",
    doc=f"SQ8 scalar quantization (FAISS QT_8bit): per-dimension linear "
    f"code in [0,255] from corpus min/max — {_DIM}-dim float32 → "
    f"{_DIM} bytes. The stats table is {_DIM} rows (broadcast); coding "
    "is scan-local arithmetic. floor(x+0.5) keeps rounding identical "
    "across engines. Long (vec_id,pos,code) form — the layout "
    "downstream dot products join on.",
    tags=("embeddings", "quantization"),
)
def q_sq8_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = nonnull_embeddings(spark, sf_dir)
    vals = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "v")
    ).select("vec_id", "pos", F.col("v").cast("double").alias("val"))
    stats = vals.groupBy("pos").agg(
        F.min("val").alias("mn"), F.max("val").alias("mx")
    )
    code = F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
        F.floor((F.col("val") - F.col("mn")) / (F.col("mx") - F.col("mn")) * 255 + 0.5)
    )
    return vals.join(F.broadcast(stats), "pos").select(
        "vec_id", "pos", code.cast("bigint").alias("code")
    )


@register(
    "emb_sq8_recon_error",
    f"""
WITH dims AS (SELECT unnest(generate_series(0, {_DIM - 1})) AS pos),
vals AS (
  SELECT e.vec_id AS vec_id, d.pos AS pos,
         CAST(e.embedding[d.pos + 1] AS DOUBLE) AS val
  FROM embeddings e CROSS JOIN dims d
  WHERE e.embedding IS NOT NULL
),
stats AS (
  SELECT pos, min(val) AS mn, max(val) AS mx FROM vals GROUP BY pos
),
coded AS (
  SELECT v.vec_id AS vec_id, v.val AS val, s.mn AS mn, s.mx AS mx,
         CASE WHEN s.mx = s.mn THEN 0
              ELSE floor((v.val - s.mn) / (s.mx - s.mn) * 255 + 0.5) END AS code
  FROM vals v JOIN stats s ON s.pos = v.pos
)
SELECT vec_id,
       round(sum((val - (mn + code * (mx - mn) / 255))
               * (val - (mn + code * (mx - mn) / 255))), 6) AS recon_d2
FROM coded GROUP BY vec_id
""",
    doc="SQ8 round-trip quality: per-vector squared reconstruction "
    "error after dequantization (mn + code·scale). The health metric "
    "that decides whether 1-byte codes are enough for a corpus before "
    "committing the 4× storage saving.",
    tags=("embeddings", "quantization", "eval"),
)
def q_sq8_recon(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = nonnull_embeddings(spark, sf_dir)
    vals = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "v")
    ).select("vec_id", "pos", F.col("v").cast("double").alias("val"))
    stats = vals.groupBy("pos").agg(
        F.min("val").alias("mn"), F.max("val").alias("mx")
    )
    code = F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
        F.floor((F.col("val") - F.col("mn")) / (F.col("mx") - F.col("mn")) * 255 + 0.5)
    )
    deq = F.col("mn") + code * (F.col("mx") - F.col("mn")) / 255
    err = (F.col("val") - deq) * (F.col("val") - deq)
    return (
        vals.join(F.broadcast(stats), "pos")
        .groupBy("vec_id")
        .agg(F.round(F.sum(err), 6).alias("recon_d2"))
    )


def _pack_half_sql(col: str, lo: int) -> str:
    return " + ".join(
        f"(CASE WHEN {col}[{lo + j + 1}] >= 0 THEN CAST({1 << j} AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END)"
        for j in range(32)
    )


def _pack_half_col(emb: F.Column, lo: int) -> F.Column:
    out = F.lit(0).cast("bigint")
    for j in range(32):
        out = out + F.when(
            F.element_at(emb, lo + j + 1) >= 0, F.lit(1 << j).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
    return out


@register(
    "emb_binary_hamming_topk",
    f"""
WITH packed AS (
  SELECT vec_id,
         {_pack_half_sql('embedding', 0)} AS b_lo,
         {_pack_half_sql('embedding', 32)} AS b_hi
  FROM embeddings WHERE embedding IS NOT NULL
)
SELECT query_id, vec_id, hamming, rank FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         CAST(bit_count(xor(q.b_lo, c.b_lo))
              + bit_count(xor(q.b_hi, c.b_hi)) AS BIGINT) AS hamming,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY bit_count(xor(q.b_lo, c.b_lo))
                    + bit_count(xor(q.b_hi, c.b_hi)), c.vec_id
         ) AS rank
  FROM packed q JOIN packed c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {_NQ}
)
WHERE rank <= {_TOPK}
""",
    doc=f"Binary-quantized retrieval (FAISS IndexBinaryFlat pattern): "
    f"{_DIM} sign bits packed into two BIGINT halves, top-{_TOPK} by "
    "Hamming distance = two XOR+popcounts per candidate — the "
    "cheapest scan there is, which is why billion-scale stacks brute-"
    "scan binary codes instead of indexing them. Codes-only: "
    "embeddings are read once at pack time, never at query time.",
    tags=("embeddings", "quantization", "ann", "similarity"),
)
def q_binary_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = nonnull_embeddings(spark, sf_dir)
    packed = emb.select(
        "vec_id",
        _pack_half_col(F.col("embedding"), 0).alias("b_lo"),
        _pack_half_col(F.col("embedding"), 32).alias("b_hi"),
    ).persist()  # queries and corpus both read the packed table
    q = packed.filter(F.col("vec_id") < _NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("b_lo").alias("q_lo"),
        F.col("b_hi").alias("q_hi"),
    )
    ham = (
        F.bit_count(F.col("q_lo").bitwiseXOR(F.col("b_lo")))
        + F.bit_count(F.col("q_hi").bitwiseXOR(F.col("b_hi")))
    ).cast("bigint")
    scored = (
        packed.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", ham.alias("hamming"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOPK)
        .select("query_id", "vec_id", "hamming", "rank")
    )


@register(
    "emb_sq8_adc_topk",
    f"""
WITH dims AS (SELECT unnest(generate_series(0, {_DIM - 1})) AS pos),
vals AS (
  SELECT e.vec_id AS vec_id, d.pos AS pos,
         CAST(e.embedding[d.pos + 1] AS DOUBLE) AS val
  FROM embeddings e CROSS JOIN dims d
  WHERE e.embedding IS NOT NULL
),
stats AS (
  SELECT pos, min(val) AS mn, max(val) AS mx FROM vals GROUP BY pos
),
deq AS (
  SELECT v.vec_id AS vec_id, v.pos AS pos,
         s.mn + (CASE WHEN s.mx = s.mn THEN 0
                 ELSE floor((v.val - s.mn) / (s.mx - s.mn) * 255 + 0.5) END)
               * (s.mx - s.mn) / 255 AS dval
  FROM vals v JOIN stats s ON s.pos = v.pos
),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         round(sum((q.val - c.dval) * (q.val - c.dval)), 6) AS est_d2
  FROM vals q JOIN deq c ON c.pos = q.pos AND c.vec_id <> q.vec_id
  WHERE q.vec_id < {_NQ}
  GROUP BY q.vec_id, c.vec_id
)
SELECT query_id, vec_id, est_d2, rank FROM (
  SELECT query_id, vec_id, est_d2,
         row_number() OVER (
           PARTITION BY query_id ORDER BY est_d2, vec_id
         ) AS rank
  FROM pairs
) WHERE rank <= {_TOPK}
""",
    doc=f"SQ8 asymmetric search: full-precision queries against "
    "DEQUANTIZED 1-byte corpus codes — top-{0} by estimated L2 over "
    "the long (vec_id,pos) layout, so the join key is the dimension "
    "index and per-pair work is a partial-agg sum (map-side combined). "
    "Completes SQ8 as a retrieval method next to codes + recon-error; "
    "ranks oracle-reproduced (floor(x+0.5) coding, 6-decimal rounds "
    "absorbing summation-order ulps).".format(_TOPK),
    tags=("embeddings", "quantization", "ann", "similarity"),
)
def q_sq8_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = nonnull_embeddings(spark, sf_dir)
    vals = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "v")
    ).select("vec_id", "pos", F.col("v").cast("double").alias("val"))
    stats = vals.groupBy("pos").agg(
        F.min("val").alias("mn"), F.max("val").alias("mx")
    )
    code = F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
        F.floor((F.col("val") - F.col("mn")) / (F.col("mx") - F.col("mn")) * 255 + 0.5)
    )
    deq = vals.join(F.broadcast(stats), "pos").select(
        F.col("vec_id"),
        "pos",
        (F.col("mn") + code * (F.col("mx") - F.col("mn")) / 255).alias("dval"),
    )
    q = vals.filter(F.col("vec_id") < _NQ).select(
        F.col("vec_id").alias("query_id"), "pos", F.col("val").alias("qval")
    )
    pairs = (
        deq.join(q, "pos")
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(
            F.round(
                F.sum((F.col("qval") - F.col("dval")) * (F.col("qval") - F.col("dval"))),
                6,
            ).alias("est_d2")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("est_d2").asc(), F.col("vec_id").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOPK)
        .select("query_id", "vec_id", "est_d2", "rank")
    )
