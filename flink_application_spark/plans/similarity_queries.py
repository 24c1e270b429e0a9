"""Similarity-search queries over the `embeddings` table.

Brute-force cosine top-k is the exact baseline; the LSH-bucketed
variant is the scale path (equi-join on sign-bit bucket instead of a
cross product). Cosine is computed as explicit double dot/norm folds
in BOTH engines so the oracle matches bit-for-bit after rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.operators.similarity import (
    brute_force_topk,
    brute_force_topk_fold,
    cosine_near_dup_pairs,
    lsh_ann_topk,
)
from flink_application_spark.plans.registry import register

_COS = (
    "round(list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
    " / (sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[])))"
    " * sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[])))), 6)"
)


def _bucket_sql(col: str, n_bits: int) -> str:
    return " || ".join(
        f"CASE WHEN {col}[{i + 1}] >= 0 THEN '1' ELSE '0' END" for i in range(n_bits)
    )


@register(
    "emb_cosine_topk_bruteforce",
    f"""
SELECT query_id, vec_id, cosine, rank FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         {_COS.format(a='q.embedding', b='c.embedding')} AS cosine,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY {_COS.format(a='q.embedding', b='c.embedding')} DESC,
                    c.vec_id ASC
         ) AS rank
  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < 5
)
WHERE rank <= 10
""",
    doc="Exact cosine top-10 for 5 query vectors: broadcast queries × "
    "corpus scan; JVM-side zip_with/aggregate dot products — the "
    "embeddings never leave the executor.",
    tags=("similarity", "embeddings"),
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    # |Q| = 5 → ~10k pairs: the small-pair regime where the JVM fold
    # beats the Arrow matrix path's fixed round-trip (round-12 A/B:
    # 0.71–0.80 s vs 0.90–1.21 s at sf0.1; bit-identical — pinned by
    # tests/test_similarity_arrow.py). This also makes the registered
    # doc literally true again: the embeddings never leave the JVM.
    return brute_force_topk_fold(emb.filter(F.col("vec_id") < 5), emb, k=10)


@register(
    "emb_radius_search",
    f"""
SELECT query_id, vec_id, cosine FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         {_COS.format(a='q.embedding', b='c.embedding')} AS cosine
  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < 5
)
WHERE cosine >= 0.25
""",
    doc="Range search (FAISS range_search): every corpus vector with "
    "cosine ≥ 0.25 of each of 5 query vectors — the quality-bounded "
    "companion of top-k retrieval (near-dup mining bounds similarity, "
    "not result count). Broadcast queries × corpus scan, JVM-side "
    "dot/norm folds; exact oracle baseline of emb_radius_search_ann.",
    tags=("similarity", "embeddings", "range-search"),
)
def q_radius_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_application_spark.operators.similarity import radius_search

    emb = table(spark, sf_dir, "embeddings")
    return radius_search(emb.filter(F.col("vec_id") < 5), emb, 0.25)


@register(
    "emb_lsh_ann_topk",
    f"""
WITH b AS (
  SELECT vec_id, embedding, {_bucket_sql('embedding', 8)} AS bucket
  FROM embeddings
)
SELECT query_id, vec_id, cosine, rank FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         {_COS.format(a='q.embedding', b='c.embedding')} AS cosine,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY {_COS.format(a='q.embedding', b='c.embedding')} DESC,
                    c.vec_id ASC
         ) AS rank
  FROM b q JOIN b c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
  WHERE q.vec_id < 20
)
WHERE rank <= 5
""",
    doc="Approximate NN: 8 sign-bit axis hyperplanes bucket the corpus; "
    "candidates equi-join on bucket (hash join, no cross product). "
    "Recall/cost tunes via n_bits.",
    tags=("similarity", "embeddings", "lsh"),
)
def q_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return lsh_ann_topk(emb.filter(F.col("vec_id") < 20), emb, k=5, n_bits=8)


_ND_BANDS, _ND_BITS = 4, 8
_ND_THRESHOLD = 0.3


def _band_eq_sql(band: int, bits: int) -> str:
    lo = band * bits
    key = lambda side: " || ".join(  # noqa: E731
        f"CASE WHEN {side}.embedding[{lo + j + 1}] >= 0 THEN '1' ELSE '0' END"
        for j in range(bits)
    )
    return f"({key('a')}) = ({key('b')})"


def _nd_pairs_sql(with_cosine: bool) -> str:
    cols = "a.vec_id AS id_a, b.vec_id AS id_b" + (
        f",\n       {_COS.format(a='a.embedding', b='b.embedding')} AS cosine"
        if with_cosine
        else ""
    )
    return f"""
SELECT {cols}
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE ({" OR ".join(_band_eq_sql(i, _ND_BITS) for i in range(_ND_BANDS))})
  AND {_COS.format(a='a.embedding', b='b.embedding')} >= {_ND_THRESHOLD}
"""


@register(
    "emb_cosine_near_dup_pairs",
    _nd_pairs_sql(with_cosine=True),
    doc=f"Embedding-cosine near-dup pairs ≥ 0.3, blocked by "
    f"{_ND_BANDS} independent {_ND_BITS}-bit sign-LSH bands "
    f"(candidates agree on ≥ 1 band; exact cosine verifies). The "
    f"banded key replaces round 1's single 4-bit bucket, where every "
    f"bucket was a constant ~1/16 of the corpus (quadratic-in-bucket "
    f"at 100×): each band now splits the corpus into 2^{_ND_BITS} "
    f"cells and band_bits='auto' widens the key as the corpus grows "
    f"(operators/similarity.py:band_bits_for). The oracle is the "
    f"brute-force OR-of-band-equalities self-join — same rows, no "
    f"approximation gap to explain.",
    tags=("similarity", "dedup", "embeddings"),
)
def q_cos_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return cosine_near_dup_pairs(
        emb, threshold=_ND_THRESHOLD, n_bands=_ND_BANDS, band_bits=_ND_BITS
    )


@register(
    "emb_dup_components",
    f"""
WITH RECURSIVE dup AS ({_nd_pairs_sql(with_cosine=False)}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM dup
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM dup
),
reach(v, lbl) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT e.a, r.lbl FROM reach r JOIN edges e ON e.b = r.v
)
SELECT v AS vec_id, min(lbl) AS component FROM reach GROUP BY v
""",
    doc="Embedding-side pairs→groups canonicalization: connected "
    "components of the banded cosine near-dup graph (same iterative "
    "min-label propagation as doc_dup_components — one join + min-agg "
    "per round, localCheckpoint lineage truncation). Closes the "
    "embedding dedup loop: banded candidates → verified pairs → "
    "transitive clusters, so a~b~c collapses to one keep-decision "
    "even when a,c were never compared. Oracle: DuckDB recursive CTE "
    "reachability over the identical brute-force pair set.",
    tags=("similarity", "dedup", "embeddings", "graph", "iterative"),
)
def q_emb_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_application_spark.operators.components import connected_components

    emb = table(spark, sf_dir, "embeddings")
    pairs = cosine_near_dup_pairs(
        emb, threshold=_ND_THRESHOLD, n_bands=_ND_BANDS, band_bits=_ND_BITS
    )
    return connected_components(
        pairs, vertices=emb, src="id_a", dst="id_b", vertex_col="vec_id"
    ).select(F.col("v").alias("vec_id"), "component")


@register(
    "emb_centroid_per_label",
    """
WITH dims AS (
  SELECT unnest(generate_series(0, 63)) AS pos
)
SELECT e.label AS label, dims.pos AS pos,
       round(avg(e.embedding[dims.pos + 1]), 4) + 0.0 AS centroid,
       count(*) AS n_vectors
FROM embeddings e
CROSS JOIN dims
GROUP BY e.label, dims.pos
""",
    doc="Per-class centroid: element-wise mean embedding per label in "
    "long (label, pos) form. Spark: posexplode is scan-local, the only "
    "shuffle is the (label, pos) partial-agg — sums are combined "
    "map-side so the exchange carries |labels|x|dims| partials, not "
    "vectors. The long form is also the scalable layout (no giant "
    "array rebuild; downstream dot products join on pos).",
    tags=("similarity", "embeddings", "agg"),
)
def q_emb_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(
            (F.round(F.avg("val"), 4) + F.lit(0.0)).alias("centroid"),  # -0.0 → +0.0
            F.count(F.lit(1)).alias("n_vectors"),
        )
    )


@register(
    "emb_knn_classify",
    f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id, c.label AS label,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY {_COS.format(a='q.embedding', b='c.embedding')} DESC,
                    c.vec_id ASC
         ) AS rank
  FROM embeddings q JOIN embeddings c ON c.vec_id >= 10
  WHERE q.vec_id < 10
),
votes AS (
  SELECT query_id, label, count(*) AS n_votes
  FROM scored WHERE rank <= 5
  GROUP BY query_id, label
)
SELECT query_id, label AS predicted_label, n_votes FROM (
  SELECT query_id, label, n_votes,
         row_number() OVER (
           PARTITION BY query_id ORDER BY n_votes DESC, label ASC
         ) AS rn
  FROM votes
)
WHERE rn = 1
""",
    doc="k-NN classification: label each query vector by majority vote "
    "of its 5 nearest corpus neighbors (ties → smallest label). The "
    "end-use composition of similarity search — top-k scoring feeds a "
    "per-query vote aggregate; at scale the scoring stage swaps to the "
    "IVF/LSH ANN path without touching the vote logic.",
    tags=("similarity", "embeddings", "knn", "classify"),
)
def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_application_spark.operators.similarity import knn_classify

    emb = table(spark, sf_dir, "embeddings")
    return knn_classify(
        emb.filter(F.col("vec_id") < 10),
        emb.filter(F.col("vec_id") >= 10),
        emb.select("vec_id", "label"),
        k=5,
        use_ann=False,  # oracle path; tests/test_ivf.py pins the ANN path
    )


@register(
    "emb_ivf_full_probe_exact",
    f"""
SELECT query_id, vec_id, cosine, rank FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         {_COS.format(a='q.embedding', b='c.embedding')} AS cosine,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY {_COS.format(a='q.embedding', b='c.embedding')} DESC,
                    c.vec_id ASC
         ) AS rank
  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < 5
)
WHERE rank <= 5
""",
    doc="IVF exactness gate, oracle-checked: at n_probe = n_centroids "
    "every inverted list is scanned, so IVF must equal exact brute "
    "force REGARDLESS of what k-means learned — the oracle is the "
    "plain exact top-k SQL. This pins the whole IVF machinery "
    "(centroid training, Arrow-batched assignment, probe join, "
    "rank/tie-break) against a closed-form answer; the approximate "
    "operating point (n_probe < n_centroids) has its recall "
    "properties in tests/test_ivf.py.",
    tags=("similarity", "embeddings", "ivf", "ann"),
)
def q_ivf_full_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_application_spark.operators.similarity import ivf_topk

    emb = table(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb.filter(F.col("vec_id") < 5), emb, k=5, n_centroids=8, n_probe=8
    ).select("query_id", "vec_id", "cosine", "rank")


def _mmr_exact_oracle() -> str:
    from flink_application_spark.plans.mmr_sql import mmr_oracle_sql

    with_body = f"""e AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb
  FROM embeddings WHERE embedding IS NOT NULL
),
scored AS MATERIALIZED (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         {_COS.format(a='q.emb', b='c.emb')} AS cosine
  FROM e q JOIN e c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < 5
),
tk AS MATERIALIZED (
  SELECT query_id, vec_id, cosine FROM (
    SELECT query_id, vec_id, cosine,
           row_number() OVER (
             PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC
           ) AS rnk
    FROM scored
  ) WHERE rnk <= 20
)"""
    return mmr_oracle_sql(with_body, k_final=5, lam10=7)


@register(
    "emb_mmr_diversified_topk",
    _mmr_exact_oracle(),
    doc="MMR-diversified top-5 (λ=0.7) for 5 query vectors over a "
    "top-20 cosine retrieval: retrieve-then-rerank, with the O(k²) "
    "greedy confined to per-query Arrow groups. Oracle-EXACT since "
    "round 7: the greedy scores in integer micro-units (ppm relevance "
    "/ pair similarities, λ as tenths — operators/similarity."
    "mmr_rerank_cands), so DuckDB replays the k_final argmax stages "
    "unrolled (plans/mmr_sql.py); behavioral contracts stay in "
    "tests/test_mmr.py.",
    tags=("similarity", "embeddings", "mmr"),
)
def q_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_application_spark.operators.similarity import mmr_rerank

    emb = table(spark, sf_dir, "embeddings")
    return mmr_rerank(
        emb.filter(F.col("vec_id") < 5), emb, k_retrieve=20, k_final=5, lam=0.7
    )


# --- IVF probe-sweep recall curve -------------------------------------------

_RC_NC = 8   # seeded coarse centroids (k smallest vec_ids — no RNG)
_RC_NQ = 5   # query set: vec_id < 5
_RC_K = 10   # recall@10
_RC_MAXP = 4  # sweep n_probe = 1..4

_RC_D2 = (
    "list_sum(list_transform(list_zip({a}, {b}),"
    " p -> (p[1] - p[2]) * (p[1] - p[2])))"
)
_RC_COS = (
    "round(list_dot_product({a}, {b})"
    " / (sqrt(list_dot_product({a}, {a}))"
    " * sqrt(list_dot_product({b}, {b}))), 6)"
)


@register(
    "emb_ivf_recall_curve",
    f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb
  FROM embeddings WHERE embedding IS NOT NULL
),
cent AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, emb AS c
  FROM e ORDER BY vec_id LIMIT {_RC_NC}
),
assign AS (
  SELECT vec_id, cluster FROM (
    SELECT e.vec_id, cent.cluster,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_RC_D2.format(a='e.emb', b='cent.c')}, cent.cluster
           ) AS rn
    FROM e CROSS JOIN cent
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, emb AS qv FROM e WHERE vec_id < {_RC_NQ}),
probes AS (
  SELECT query_id, qv, cluster, pr FROM (
    SELECT q.query_id, q.qv, cent.cluster,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY {_RC_D2.format(a='q.qv', b='cent.c')}, cent.cluster
           ) AS pr
    FROM q CROSS JOIN cent
  ) WHERE pr <= {_RC_MAXP}
),
scored AS (
  SELECT p.query_id, e.vec_id, p.pr,
         {_RC_COS.format(a='p.qv', b='e.emb')} AS cosine
  FROM probes p
  JOIN assign a ON a.cluster = p.cluster
  JOIN e ON e.vec_id = a.vec_id
  WHERE e.vec_id <> p.query_id
),
levels AS (
  SELECT query_id, vec_id, cosine,
         unnest(generate_series(pr, {_RC_MAXP})) AS n_probe
  FROM scored
),
ann AS (
  SELECT n_probe, query_id, vec_id FROM (
    SELECT n_probe, query_id, vec_id,
           row_number() OVER (
             PARTITION BY n_probe, query_id
             ORDER BY cosine DESC, vec_id
           ) AS rk
    FROM levels
  ) WHERE rk <= {_RC_K}
),
exact AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, e.vec_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY {_RC_COS.format(a='q.qv', b='e.emb')} DESC, e.vec_id
           ) AS rk
    FROM q JOIN e ON e.vec_id <> q.query_id
  ) WHERE rk <= {_RC_K}
)
SELECT a.n_probe, a.query_id,
       CAST(sum(CASE WHEN x.vec_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
         AS n_hits,
       CAST(sum(CASE WHEN x.vec_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
         * 1000000 // {_RC_K} AS recall_ppm
FROM ann a
LEFT JOIN exact x ON x.query_id = a.query_id AND x.vec_id = a.vec_id
GROUP BY a.n_probe, a.query_id
""",
    doc=f"IVF probe-sweep recall curve, oracle-EXACT: recall@{_RC_K} of "
    f"seeded-centroid IVF retrieval vs the exact ranking at every "
    f"n_probe 1..{_RC_MAXP} — the operating-point eval a pipeline runs "
    "before trusting IVF ANN at 100 TB, symmetric with the LSH recall "
    "audit (doc_lsh_recall_audit + size_lsh_for_recall). Fully "
    "deterministic: seeded centroids (k smallest vec_ids), the "
    "assignment/probe d2s are sequential double folds (the "
    "emb_kmeans_assign arithmetic), candidate→level expansion is a "
    "per-row explode(sequence(pr, max_probe)) — a candidate probed at "
    "rank pr serves every level ≥ pr, so the sweep costs ONE candidate "
    "scoring pass, not one per probe level. The exact side is the "
    "eval's definition (INTENTIONALLY_QUADRATIC class b).",
    tags=("similarity", "embeddings", "ivf", "ann", "eval"),
)
def q_ivf_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_application_spark.operators.kmeans import (
        assign_clusters,
        init_centroids,
    )
    from flink_application_spark.operators.pq import d2_lit_sql
    from flink_application_spark.operators.similarity import (
        brute_force_topk_fold,
    )

    emb = table(spark, sf_dir, "embeddings")
    emb = emb.filter(F.col("embedding").isNotNull())
    cents = init_centroids(emb, _RC_NC, "vec_id")
    assigned = assign_clusters(emb, cents).select("vec_id", "embedding", "cluster")
    q = emb.filter(F.col("vec_id") < _RC_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    # probe ranking: array_sort over (d2, cluster) literal-fold structs —
    # the oracle-proven emb_ivfadc_topk probe shape, sliced to max level
    cands = F.expr(
        "array("
        + ", ".join(
            f"named_struct('d2', {d2_lit_sql('qv', c)}, 'cluster', {i})"
            for i, c in enumerate(cents)
        )
        + ")"
    )
    probes = q.select(
        "query_id",
        "qv",
        F.posexplode(F.slice(F.array_sort(cands), 1, _RC_MAXP)).alias("pos", "p"),
    ).select(
        "query_id",
        "qv",
        F.col("p.cluster").alias("cluster"),
        (F.col("pos") + 1).alias("pr"),
    )
    from flink_application_spark.functions.vectors import cosine

    # broadcast the |Q|·max_probe probe rows against the corpus-side
    # inverted list (the ivf_topk join shape — no shuffle of vectors)
    scored = (
        assigned.join(F.broadcast(probes), "cluster")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            "pr",
            F.round(cosine(F.col("qv"), F.col("embedding")), 6).alias("cosine"),
        )
    )
    levels = scored.withColumn(
        "n_probe", F.explode(F.sequence(F.col("pr"), F.lit(_RC_MAXP)))
    )
    w = Window.partitionBy("n_probe", "query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    ann = (
        levels.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _RC_K)
        .select("n_probe", "query_id", "vec_id")
    )
    # exact side: |Q| = 5 over the corpus ≈ 10k pairs — the same
    # small-pair regime as the round-12 adaptive IVF scorer, where the
    # JVM fold beats the Arrow matrix path's fixed round-trip (A/B at
    # sf0.1: fold 0.71–0.80 s vs arrow 0.90–1.21 s; bit-identical
    # results, pinned by tests/test_similarity_arrow.py)
    exact = brute_force_topk_fold(q.select(F.col("query_id").alias("vec_id"),
                                           F.col("qv").alias("embedding")),
                                  emb, k=_RC_K).select(
        "query_id", "vec_id", F.lit(1).alias("hit")
    )
    return (
        ann.join(F.broadcast(exact), ["query_id", "vec_id"], "left")
        .groupBy("n_probe", "query_id")
        .agg(
            F.expr(
                "CAST(sum(CASE WHEN hit IS NULL THEN 0 ELSE 1 END) AS BIGINT)"
            ).alias("n_hits"),
            F.expr(
                "CAST(sum(CASE WHEN hit IS NULL THEN 0 ELSE 1 END) AS BIGINT)"
                f" * 1000000L div {_RC_K}"
            ).alias("recall_ppm"),
        )
    )


_MP_BITS, _MP_PROBES = 8, 2


def _mp_flip_sql(b: str, p: str) -> str:
    return (
        f"substr({b}, 1, {p} - 1) || "
        f"(CASE WHEN substr({b}, {p}, 1) = '1' THEN '0' ELSE '1' END) || "
        f"substr({b}, {p} + 1)"
    )


@register(
    "emb_lsh_multiprobe_topk",
    f"""
WITH b AS (
  SELECT vec_id, embedding, {_bucket_sql('embedding', _MP_BITS)} AS bucket
  FROM embeddings
),
q AS (
  SELECT vec_id, bucket,
         list_transform(
           list_slice(
             list_sort(list_transform(generate_series(1, {_MP_BITS}),
                         i -> struct_pack(a := abs(embedding[i]), i := i))),
             1, {_MP_PROBES}),
           s -> s.i) AS flips
  FROM b WHERE vec_id < 20
),
probes AS (
  SELECT vec_id,
         unnest(list_prepend(bucket,
                list_transform(flips, p -> {_mp_flip_sql('bucket', 'p')}))) AS bucket
  FROM q
),
cand AS (
  SELECT DISTINCT p.vec_id AS query_id, c.vec_id AS vec_id
  FROM probes p JOIN b c ON c.bucket = p.bucket AND c.vec_id <> p.vec_id
)
SELECT query_id, vec_id, cosine, rank FROM (
  SELECT cand.query_id, cand.vec_id,
         {_COS.format(a='q.embedding', b='c.embedding')} AS cosine,
         row_number() OVER (
           PARTITION BY cand.query_id
           ORDER BY {_COS.format(a='q.embedding', b='c.embedding')} DESC,
                    cand.vec_id ASC
         ) AS rank
  FROM cand
  JOIN embeddings q ON q.vec_id = cand.query_id
  JOIN embeddings c ON c.vec_id = cand.vec_id
)
WHERE rank <= 5
""",
    doc=f"Query-directed multi-probe LSH (Lv et al. VLDB'07): each "
    f"query searches its own sign-bit bucket PLUS the {_MP_PROBES} "
    "buckets reached by flipping its least-confident bits (smallest "
    "|coordinate| — the hyperplanes the query sits closest to). "
    "Recall improves over emb_lsh_ann_topk by construction (superset "
    "candidates, pinned in tests) at probes× candidate cost and ZERO "
    "index growth — the knob you turn when re-hashing the corpus is "
    "expensive and the query side is cheap. Ids-only candidate "
    "distinct; embeddings join in only for final scoring.",
    tags=("similarity", "embeddings", "lsh", "multiprobe"),
)
def q_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_application_spark.operators.similarity import lsh_multiprobe_topk

    emb = table(spark, sf_dir, "embeddings")
    return lsh_multiprobe_topk(
        emb.filter(F.col("vec_id") < 20), emb, k=5, n_bits=_MP_BITS, probes=_MP_PROBES
    )


# --- multi-probe sweep recall curve -----------------------------------------

_MPC_MAXP = 4  # sweep probes 0..4 (0 = own bucket only)
_MPC_NQ = 20
_MPC_K = 5


@register(
    "emb_multiprobe_recall_curve",
    f"""
WITH b AS (
  SELECT vec_id, embedding, {_bucket_sql('embedding', _MP_BITS)} AS bucket
  FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, embedding, bucket,
         list_transform(
           list_slice(
             list_sort(list_transform(generate_series(1, {_MP_BITS}),
                         i -> struct_pack(a := abs(embedding[i]), i := i))),
             1, {_MPC_MAXP}),
           s -> s.i) AS flips
  FROM b WHERE vec_id < {_MPC_NQ}
),
probes AS (
  SELECT query_id, j,
         CASE WHEN j = 0 THEN bucket
              ELSE {_mp_flip_sql('bucket', 'flips[j]')} END AS pbucket
  FROM q, (SELECT unnest(generate_series(0, {_MPC_MAXP})) AS j)
),
cand AS (
  SELECT p.query_id, c.vec_id, CAST(min(p.j) AS BIGINT) AS first_probe
  FROM probes p JOIN b c ON c.bucket = p.pbucket AND c.vec_id <> p.query_id
  GROUP BY p.query_id, c.vec_id
),
scored AS (
  SELECT cand.query_id, cand.vec_id, cand.first_probe,
         {_COS.format(a='q.embedding', b='c.embedding')} AS cosine
  FROM cand
  JOIN embeddings q ON q.vec_id = cand.query_id
  JOIN embeddings c ON c.vec_id = cand.vec_id
),
levels AS (
  SELECT query_id, vec_id, cosine,
         unnest(generate_series(first_probe, {_MPC_MAXP})) AS n_probes
  FROM scored
),
ann AS (
  SELECT n_probes, query_id, vec_id FROM (
    SELECT n_probes, query_id, vec_id,
           row_number() OVER (
             PARTITION BY n_probes, query_id
             ORDER BY cosine DESC, vec_id
           ) AS rk
    FROM levels
  ) WHERE rk <= {_MPC_K}
),
exact AS (
  SELECT query_id, vec_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_COS.format(a='q.embedding', b='c.embedding')} DESC,
                      c.vec_id
           ) AS rk
    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
    WHERE q.vec_id < {_MPC_NQ}
  ) WHERE rk <= {_MPC_K}
)
SELECT a.n_probes,
       CAST(count(*) AS BIGINT) AS n_retrieved,
       CAST(sum(CASE WHEN x.vec_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
         AS n_hits,
       CAST(sum(CASE WHEN x.vec_id IS NULL THEN 0 ELSE 1 END) * 1000000
            // {_MPC_NQ * _MPC_K} AS BIGINT) AS recall_ppm
FROM ann a
LEFT JOIN exact x ON x.query_id = a.query_id AND x.vec_id = a.vec_id
GROUP BY a.n_probes
""",
    doc=f"Multi-probe sweep recall curve, oracle-EXACT: recall@{_MPC_K} "
    f"of sign-LSH retrieval at every probe count 0..{_MPC_MAXP} (0 = "
    "own bucket only = emb_lsh_ann_topk's operating point) against "
    "the exact ranking — the operating-point eval that SIZES the "
    "probe knob before trusting it at scale, symmetric with "
    "emb_ivf_recall_curve and doc_lsh_recall_audit. One candidate "
    "scoring pass serves the whole sweep: a pair first reached at "
    "probe j expands to every level ≥ j via explode(sequence(...)); "
    "probe order is query-directed (least-|coord| bits first). The "
    "exact side is the eval's definition (INTENTIONALLY_QUADRATIC "
    "class b).",
    tags=("similarity", "embeddings", "lsh", "multiprobe", "eval"),
)
def q_multiprobe_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_application_spark.functions.vectors import dot, norm, sign_bits
    from flink_application_spark.operators.similarity import (
        brute_force_topk_fold,
        multiprobe_buckets,
    )

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _MPC_NQ)
    qp = queries.select(
        F.col("vec_id").alias("query_id"),
        F.posexplode(
            multiprobe_buckets(F.col("embedding"), _MP_BITS, _MPC_MAXP)
        ).alias("j", "bucket"),
    )
    c = emb.select("vec_id", sign_bits(F.col("embedding"), _MP_BITS).alias("bucket"))
    cand = (
        c.join(F.broadcast(qp), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.min("j").cast("bigint").alias("first_probe"))
    )
    qv = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        norm(F.col("embedding")).alias("_qn"),
    )
    cv = emb.select("vec_id", "embedding", norm(F.col("embedding")).alias("_cn"))
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "vec_id")
        .select(
            "query_id",
            "vec_id",
            "first_probe",
            F.round(
                dot(F.col("qv"), F.col("embedding")) / (F.col("_qn") * F.col("_cn")), 6
            ).alias("cosine"),
        )
    )
    levels = scored.select(
        "query_id",
        "vec_id",
        "cosine",
        F.explode(
            F.sequence(F.col("first_probe"), F.lit(_MPC_MAXP).cast("bigint"))
        ).alias("n_probes"),
    )
    w = Window.partitionBy("n_probes", "query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    ann = (
        levels.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _MPC_K)
        .select("n_probes", "query_id", "vec_id")
    )
    # small-|Q| consumer (~tens of k pairs): the JVM fold beats the
    # Arrow matrix path's fixed round-trip here (round-12 same-session
    # A/B in OPTIMIZATION_r12.md; bit-identical results, pinned by
    # tests/test_similarity_arrow.py)
    exact = brute_force_topk_fold(queries, emb, k=_MPC_K).select(
        "query_id", F.col("vec_id").alias("x_vec_id")
    )
    return (
        ann.join(
            exact,
            (ann["query_id"] == exact["query_id"])
            & (ann["vec_id"] == exact["x_vec_id"]),
            "left",
        )
        .groupBy("n_probes")
        .agg(
            F.count(F.lit(1)).alias("n_retrieved"),
            F.sum(
                F.when(F.col("x_vec_id").isNull(), 0).otherwise(1)
            ).cast("bigint").alias("n_hits"),
            F.expr(
                "CAST(sum(CASE WHEN x_vec_id IS NULL THEN 0 ELSE 1 END) "
                f"* 1000000 div {_MPC_NQ * _MPC_K} AS BIGINT)"
            ).alias("recall_ppm"),
        )
    )
