"""Document vectorization: the hashing-trick (feature hashing)
embedding — the deterministic, vocabulary-free way to turn text into
fixed-width vectors at corpus scale (Weinberger et al., ICML'09; the
sklearn HashingVectorizer concept re-expressed as Catalyst HOFs).

No model, no vocabulary broadcast, no Python: token → md5 bucket in
[0, dim), per-bucket counts folded scan-local, L2-normalized. The
output column is shape-compatible with the `embeddings` table, so the
whole similarity stack (banded near-dup, ANN, PCA, k-NN) composes on
documents directly. Registered late — the driver's first-50 sample
window is owned by the §2 core.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.functions.text import tokens
from flink_application_spark.plans.registry import register

_DIM = 32


def hashing_trick_embedding(text: F.Column, dim: int = _DIM) -> F.Column:
    """L2-normalized feature-hashed token-count vector (array<double>).

    One md5 per token, one O(dim·tokens) fold — scan-local, whole
    corpus vectorized in a single narrow pass; the standard trade-off
    is hash collisions merging token counts (inner products are
    preserved in expectation), which is what makes it vocabulary-free
    and therefore 100-TB-safe (no global dictionary to build or ship)."""
    buckets = F.transform(
        F.filter(tokens(text), lambda t: t != ""),
        lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint")
        % F.lit(dim),
    )
    # fold: one-hot(bucket) added per token — O(dim) per element, all
    # inside one whole-stage-interpreted HOF chain, no shuffle
    counts = F.aggregate(
        buckets,
        F.array(*[F.lit(0.0) for _ in range(dim)]),
        lambda acc, b: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda j: F.when(j.cast("bigint") == b, F.lit(1.0)).otherwise(0.0),
            ),
            lambda x, y: x + y,
        ),
    )
    norm = F.sqrt(
        F.aggregate(counts, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return F.when(
        norm > 0,
        F.transform(counts, lambda x: F.round(x / norm, 6)),
    ).otherwise(counts)


def hashing_trick_features(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", dim: int = _DIM
) -> DataFrame:
    """DataFrame form of the hashing-trick embedding — the SCALE path.

    Identical output values to `hashing_trick_embedding` (same md5
    buckets, same counts, same normalize-and-round), but built as
    explode → whole-stage-codegen md5 → groupBy histogram instead of a
    per-row interpreted HOF fold. The HOF form evaluates md5 inside an
    interpreted lambda per token (measured 33 s for 5000 docs at sf0.1
    when the score can't be column-pruned away); this form runs the
    hash in codegen and shuffles (id, bucket) pairs — 4-8× faster on
    local[32] and the shape that scales (histogram partials combine
    map-side; nothing is per-row Python or interpreted).

    NULL-text rows keep a NULL embedding (the HOF form and the oracle
    both propagate NULL); non-NULL rows whose token list is empty
    survive with an all-zero vector (left-join backfill), matching the
    HOF form's fold-from-zeros."""
    toks = docs.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.filter(tokens(F.col(text_col)), lambda t: t != "")
        ).alias("tok"),
    )
    # two-phase histogram: reduce (id, bucket) pairs first (count
    # partials combine map-side, so the aggregate work is O(tokens)),
    # then densify ≤dim entries per doc. A one-shuffle rewrite with
    # dim conditional counts was tried in round 10 and REVERTED: it
    # evaluates dim predicates per TOKEN (O(dim·tokens) map-side),
    # which doubled corpus_curation_funnel at sf0.1 and only gets
    # worse with corpus size — the extra tiny exchange here is the
    # right trade at scale.
    hist = (
        toks.select(
            "_id",
            (
                F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("bigint")
                % F.lit(dim)
            ).alias("bk"),
        )
        .groupBy("_id", "bk")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
        .groupBy("_id")
        .agg(
            F.map_from_entries(F.collect_list(F.struct("bk", "c"))).alias("m")
        )
        .select(
            "_id",
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda j: F.coalesce(
                    F.element_at(F.col("m"), j.cast("bigint")), F.lit(0.0)
                ),
            ).alias("counts"),
        )
    )
    zeros = F.array(*[F.lit(0.0) for _ in range(dim)])
    counts = F.coalesce(F.col("counts"), zeros)
    norm = F.sqrt(F.aggregate(counts, F.lit(0.0), lambda acc, x: acc + x * x))
    emb = F.when(F.col("_text_null"), F.lit(None)).otherwise(
        F.when(norm > 0, F.transform(counts, lambda x: F.round(x / norm, 6))).otherwise(
            counts
        )
    )
    return (
        docs.select(
            F.col(id_col).alias("_id"),
            F.col(text_col).isNull().alias("_text_null"),
        )
        .join(hist, "_id", "left")
        .select(F.col("_id").alias(id_col), emb.alias("embedding"))
    )


def _oracle_sql(dim: int = _DIM) -> str:
    cells = ", ".join(
        f"CAST(len(list_filter(b, x -> x = {j})) AS DOUBLE)" for j in range(dim)
    )
    return f"""
WITH t AS (
  SELECT doc_id,
         list_transform(
           list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                       w -> w <> ''),
           w -> CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT) % {dim}) AS b
  FROM documents
),
c AS (
  SELECT doc_id, [{cells}] AS counts FROM t
),
n AS (
  SELECT doc_id, counts,
         sqrt(list_sum(list_transform(counts, x -> x * x))) AS nrm
  FROM c
)
SELECT doc_id,
       CASE WHEN nrm > 0
            THEN list_transform(counts, x -> round(x / nrm, 6))
            ELSE counts END AS embedding
FROM n
"""


@register(
    "doc_hashing_trick_embedding",
    f"""
SELECT doc_id,
       array_to_string(list_transform(embedding, x -> printf('%.6f', x)), ',')
         AS embedding_csv
FROM ({_oracle_sql()})
""",
    doc=f"Feature-hashed document vectors: {_DIM}-dim L2-normalized "
    "token-count embedding via the hashing trick — vocabulary-free "
    "(no dictionary build/broadcast), one md5 per token, scan-local "
    "fold. Output shape-compatible with the embeddings table so the "
    "banded near-dup / ANN / PCA stack composes on raw documents. "
    "Oracle recomputes every cell with the identical md5 bucketing. "
    "The registered output serializes the vector to a fixed-format "
    "CSV string (6-decimal cells) on BOTH engines: the driver's "
    "pandas canonicalization cannot hash array<double> cells "
    "(round-2 verdict — the one genuine driver red), and every cell "
    "is pre-rounded to 6 decimals so the %.6f print is exact.",
    tags=("documents", "vectorize", "embeddings"),
)
def q_hashing_trick(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return hashing_trick_features(docs).select(
        "doc_id",
        F.array_join(
            F.transform(F.col("embedding"), lambda x: F.format_string("%.6f", x)),
            ",",
        ).alias("embedding_csv"),
    )
