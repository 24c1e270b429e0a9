"""Training-data pipeline queries: deterministic splits, stratified
sampling, sequence packing, SimHash near-dup pairs, funnel analysis,
corpus mixture planning.

These are the corpus-preparation operations a large-scale LLM data
pipeline runs between "raw documents" and "training shards"
(SURVEY.md north-star extensions; reference parity per
`EnrichmentApp.java` is covered by the cdr_* family). Every query is
engine-portable by construction: randomness is replaced with md5
arithmetic, floats are rounded on both sides, bit manipulation uses
div/mod or xor/bit_count that Spark and DuckDB evaluate identically.

Scale notes are per-query in the ``doc`` field — the common theme is
that per-document work stays scan-local (whole-stage codegen, no
Python) and the only shuffles are on small derived keys (buckets,
bands, strata), never on document bodies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from flink_application_spark.catalog import table
from flink_application_spark.functions.text import token_count
from flink_application_spark.plans.dedup_queries import _simhash_oracle
from flink_application_spark.plans.registry import register


def _md5_bucket(col: F.Column, lo: int, width: int, mod: int) -> F.Column:
    """Integer in [0, mod) from hex digits [lo, lo+width) of
    md5(CAST(col AS STRING)) — the engine-portable stand-in for a
    seeded RNG (same doc lands in the same bucket on every engine,
    run, and cluster size)."""
    hexpart = F.substring(F.md5(col.cast("string")), lo, width)
    return F.conv(hexpart, 16, 10).cast("bigint") % mod


def _md5_bucket_sql(expr: str, lo: int, width: int, mod: int) -> str:
    return (
        f"CAST(('0x' || substr(md5(CAST({expr} AS VARCHAR)), {lo}, {width})) "
        f"AS BIGINT) % {mod}"
    )


# ---------------------------------------------------------------------------
# 1. Hash-based train/val/test split
# ---------------------------------------------------------------------------

_SPLIT_CASE_SQL = (
    "CASE WHEN bucket < 80 THEN 'train' "
    "WHEN bucket < 90 THEN 'val' ELSE 'test' END"
)


@register(
    "doc_split_train_val_test",
    f"""
WITH b AS (
  SELECT lang,
         {_md5_bucket_sql('doc_id', 1, 8, 100)} AS bucket,
         len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS n_tok
  FROM documents
)
SELECT {_SPLIT_CASE_SQL} AS split,
       lang,
       count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens
FROM b
GROUP BY 1, 2
""",
    doc="Deterministic 80/10/10 train/val/test assignment: "
    "md5(doc_id) hex → bucket in [0,100) → split label, reported as "
    "per-(split, lang) doc and token counts. The assignment is "
    "scan-local arithmetic (no RNG state, identical on every engine "
    "and cluster size — the property a reproducible training run "
    "needs); the only shuffle is the final aggregate on the tiny "
    "(split, lang) key space with map-side partials.",
    tags=("pipeline", "sampling", "documents"),
)
def q_split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    bucket = _md5_bucket(F.col("doc_id"), 1, 8, 100)
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        docs.select(
            split.alias("split"),
            "lang",
            token_count(F.col("text")).cast("bigint").alias("n_tok"),
        )
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("n_tokens"))
    )


# ---------------------------------------------------------------------------
# 2. Exact stratified sample
# ---------------------------------------------------------------------------


@register(
    "doc_stratified_sample",
    """
WITH ranked AS (
  SELECT doc_id, lang, source,
         row_number() OVER (PARTITION BY lang, source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
         count(*) OVER (PARTITION BY lang, source) AS n_strata
  FROM documents
)
SELECT doc_id, lang, source, CAST(rn AS BIGINT) AS rn
FROM ranked
WHERE rn <= CAST(ceil(0.1 * n_strata) AS BIGINT)
""",
    doc="Exact 10% stratified sample per (lang, source) stratum: "
    "rank docs by md5(doc_id) inside each stratum, keep "
    "rn <= ceil(0.1 * stratum size). Unlike rate-based sampling this "
    "guarantees every stratum is represented with exactly the target "
    "count (small strata round up, never vanish). One shuffle on the "
    "stratum key; the per-stratum sort is bounded by stratum size, "
    "and at 100 TB a skewed stratum falls back to the md5-prefix "
    "systematic filter (doc_systematic_sample) which needs no sort.",
    tags=("pipeline", "sampling", "documents"),
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang", "source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    wc = Window.partitionBy("lang", "source")
    return (
        docs.select(
            "doc_id",
            "lang",
            "source",
            F.row_number().over(w).cast("bigint").alias("rn"),
            F.count(F.lit(1)).over(wc).alias("n_strata"),
        )
        .filter(F.col("rn") <= F.ceil(0.1 * F.col("n_strata")).cast("bigint"))
        .select("doc_id", "lang", "source", "rn")
    )


# ---------------------------------------------------------------------------
# 3. Token-budget sequence packing (concat-and-split)
# ---------------------------------------------------------------------------

_PACK_BUDGET = 2048
_PACK_SHARDS = 8


@register(
    "doc_pack_sequences",
    f"""
WITH t AS (
  SELECT doc_id,
         {_md5_bucket_sql('doc_id', 9, 4, _PACK_SHARDS)} AS shard,
         md5(CAST(doc_id AS VARCHAR)) AS okey,
         len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS n_tok
  FROM documents
),
packed AS (
  SELECT shard, doc_id, n_tok,
         sum(n_tok) OVER (PARTITION BY shard ORDER BY okey, doc_id
                          ROWS UNBOUNDED PRECEDING) AS running
  FROM t
)
SELECT shard,
       CAST((running - n_tok) // {_PACK_BUDGET} AS BIGINT) AS bin_id,
       count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens
FROM packed
GROUP BY 1, 2
""",
    doc=f"Concat-and-split sequence packing: documents are laid out in "
    f"a deterministic md5 order inside {_PACK_SHARDS} md5-derived "
    f"shards, a running token prefix-sum assigns each doc to the "
    f"{_PACK_BUDGET}-token context-window bin its first token lands "
    f"in (GPT-style packing — bins are dense, no bin-packing search). "
    f"Reported as per-(shard, bin) doc/token counts. The scale story "
    f"is the shard dimension: prefix sums are per-shard, so packing "
    f"parallelizes across shards with one shuffle on the shard key "
    f"and a bounded per-shard sort — no global order, no driver loop.",
    tags=("pipeline", "packing", "documents"),
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        _md5_bucket(F.col("doc_id"), 9, 4, _PACK_SHARDS).alias("shard"),
        F.md5(F.col("doc_id").cast("string")).alias("okey"),
        token_count(F.col("text")).cast("bigint").alias("n_tok"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("okey", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = t.withColumn("running", F.sum("n_tok").over(w))
    return (
        packed.select(
            "shard",
            F.floor((F.col("running") - F.col("n_tok")) / _PACK_BUDGET)
            .cast("bigint")
            .alias("bin_id"),
            "n_tok",
        )
        .groupBy("shard", "bin_id")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("n_tokens"))
    )


# ---------------------------------------------------------------------------
# 4. SimHash hamming near-dup pairs (banded, integer-exact)
# ---------------------------------------------------------------------------

_SIMHASH_BITS = 60  # 15 hex digits of the md5 — fits signed BIGINT
_HAMMING_MAX = 3
_N_BANDS = 4  # pigeonhole: hamming <= 3 over 4 bands => >= 1 band equal
_BAND_WIDTH = _SIMHASH_BITS // _N_BANDS  # 15 bits
_BAND_MASK = (1 << _BAND_WIDTH) - 1


@register(
    "doc_simhash_near_dup_pairs",
    f"""
WITH s AS ({_simhash_oracle(_SIMHASH_BITS)})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM s a JOIN s b
  ON a.doc_id < b.doc_id
 AND bit_count(xor(a.simhash, b.simhash)) <= {_HAMMING_MAX}
""",
    doc=f"SimHash near-duplicate pairs: {_SIMHASH_BITS}-bit signatures "
    f"(Manku/Jarvelin crawl-dedup operating point — a 16-bit code "
    f"matches ~1% of RANDOM pairs at distance {_HAMMING_MAX}, pure "
    f"noise at corpus scale; at 60 bits random collisions are "
    f"~4e-14), pairs at hamming distance <= {_HAMMING_MAX}. The "
    f"Spark plan is the scale path — signatures cost ONE md5 per "
    f"shingle (array-accumulator fold, operators/minhash.py:"
    f"with_simhash64), split into {_N_BANDS} {_BAND_WIDTH}-bit bands; "
    f"by pigeonhole any pair within distance {_HAMMING_MAX} agrees "
    f"on >= 1 band, so candidates come from an equi-join on "
    f"(band_idx, band_value) (one shuffle on a small int key, no "
    f"O(n²)), then bit_count(xor) verifies exactly. The oracle is "
    f"the brute-force quadratic self-join — same rows, integer-"
    f"exact. Generalizes the reference's dedup stage "
    f"(`EnrichmentApp.java:142-156`) to content similarity.",
    tags=("dedup", "simhash", "pipeline"),
)
def q_simhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_application_spark.operators.minhash import with_shingles, with_simhash64

    docs = table(spark, sf_dir, "documents")
    # persist() is load-bearing twice over: (a) the a/b self-join below
    # reads the signatures twice — without it the whole shingle+hash
    # lineage runs once per side; (b) the join/filter predicates make
    # Catalyst infer isnotnull(simhash) and push the ENTIRE signature
    # expression below every exchange into the single-task scan stage
    # (measured 533 s vs ~10 s at sf0.1). The cached table is 16
    # bytes/doc — at cluster scale this is the natural checkpoint.
    sigs = (
        with_simhash64(with_shingles(docs), _SIMHASH_BITS)
        .select("doc_id", "simhash")
        .persist()
    )
    bands = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.expr(
                            f"shiftright(simhash, {_BAND_WIDTH * i}) & {_BAND_MASK}"
                        ).alias("band_val"),
                    )
                    for i in range(_N_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "simhash", "band.band_idx", "band.band_val")
    a = bands.select(
        F.col("doc_id").alias("doc_a"),
        F.col("simhash").alias("sim_a"),
        "band_idx",
        "band_val",
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("sim_b"),
        "band_idx",
        "band_val",
    )
    return (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sim_a", "sim_b")
        .distinct()
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
            .cast("bigint")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= _HAMMING_MAX)
    )


# ---------------------------------------------------------------------------
# 5. Event funnel conversion
# ---------------------------------------------------------------------------


@register(
    "events_funnel_conversion",
    """
WITH per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events
  GROUP BY user_id
)
SELECT count(*) AS n_users,
       CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
       CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                 AND t_purchase > t_click
                THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click_purchase
FROM per_user
""",
    doc="Ordered funnel analysis over the events stream: per user, the "
    "first view / click / purchase timestamps (conditional min-"
    "aggregates — one shuffle on user_id with map-side partials), "
    "then stage counts requiring strict temporal order "
    "view < click < purchase. The classic product-analytics query a "
    "sessionized event table answers; NULL comparisons drop users "
    "missing a stage on both engines identically.",
    tags=("events", "funnel", "analytics"),
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")

    def first_ts(kind: str) -> F.Column:
        return F.min(F.when(F.col("event_type") == kind, F.col("ts")))

    per_user = events.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    reached_click = F.col("t_view").isNotNull() & (F.col("t_click") > F.col("t_view"))
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.when(F.col("t_view").isNotNull(), 1).otherwise(0)).alias("n_view"),
        F.sum(F.when(reached_click, 1).otherwise(0)).alias("n_view_click"),
        F.sum(
            F.when(reached_click & (F.col("t_purchase") > F.col("t_click")), 1).otherwise(0)
        ).alias("n_view_click_purchase"),
    )


# ---------------------------------------------------------------------------
# 6. Corpus mixture plan
# ---------------------------------------------------------------------------


@register(
    "corpus_mixture_plan",
    """
WITH per_lang AS (
  SELECT lang,
         count(*) AS n_docs,
         CAST(sum(len(regexp_split_to_array(lower(trim(text)), '\\s+')))
              AS BIGINT) AS n_tokens
  FROM documents
  GROUP BY lang
)
SELECT lang, n_docs, n_tokens,
       round(CAST(min(n_tokens) OVER () AS DOUBLE) / n_tokens, 6) + 0.0
         AS sample_rate
FROM per_lang
""",
    doc="Corpus mixture planning: per-language token totals and the "
    "downsampling rate that balances every language to the smallest "
    "one (uniform mixture target — the knob multilingual training "
    "mixes turn). Token counting is scan-local; the aggregate "
    "shuffles on the tiny lang key; the global min is a window over "
    "the handful of aggregated rows, not the corpus. Feeding the "
    "rate back into the md5-bucket filter of doc_systematic_sample "
    "turns the plan into an executable sampler.",
    tags=("pipeline", "sampling", "documents"),
)
def q_corpus_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    per_lang = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text")).cast("bigint")).alias("n_tokens"),
    )
    floor_tokens = per_lang.agg(F.min("n_tokens").alias("_floor"))
    return per_lang.crossJoin(F.broadcast(floor_tokens)).select(
        "lang",
        "n_docs",
        "n_tokens",
        (
            F.round(F.col("_floor").cast("double") / F.col("n_tokens"), 6)
            + F.lit(0.0)
        ).alias("sample_rate"),
    )


# ---------------------------------------------------------------------------
# 7. Count-min sketch frequency estimation
# ---------------------------------------------------------------------------

_CMS_D = 4    # hash rows
_CMS_W = 256  # buckets per row


@register(
    "vocab_count_min_estimate",
    f"""
WITH occ AS (
  SELECT w FROM (
    SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
    FROM documents
  ) WHERE w <> ''
),
exact AS (
  SELECT w, count(*) AS exact_n FROM occ GROUP BY w
),
top20 AS (
  SELECT w, exact_n FROM exact ORDER BY exact_n DESC, w LIMIT 20
),
cells AS (
  SELECT i, {_md5_bucket_sql("i || '|' || w", 1, 8, _CMS_W)} AS bucket,
         count(*) AS c
  FROM occ CROSS JOIN (SELECT unnest(generate_series(0, {_CMS_D - 1})) AS i)
  GROUP BY 1, 2
),
probes AS (
  SELECT t.w, t.exact_n, i.i,
         {_md5_bucket_sql("i.i || '|' || t.w", 1, 8, _CMS_W)} AS bucket
  FROM top20 t CROSS JOIN (SELECT unnest(generate_series(0, {_CMS_D - 1})) AS i) i
)
SELECT p.w AS word, p.exact_n, min(c.c) AS cms_estimate
FROM probes p JOIN cells c ON c.i = p.i AND c.bucket = p.bucket
GROUP BY 1, 2
""",
    doc=f"Count-min sketch as a first-class distributed aggregate: "
    f"token occurrences hash into a {_CMS_D}x{_CMS_W} counter grid "
    f"(md5-derived buckets — deterministic, so the sketch itself is "
    f"oracle-checkable, unlike RNG-seeded sketch libraries), and the "
    f"top-20 exact words are probed back with estimate = min over "
    f"rows — always >= the exact count, equal when no collision. At "
    f"100 TB the sketch is the point: the grid is {_CMS_D * _CMS_W} "
    f"cells regardless of vocabulary size, built with map-side "
    f"partial aggregation (one shuffle of <= d*w rows per partition) "
    f"while the exact count shuffles the full vocabulary.",
    tags=("pipeline", "sketch", "documents"),
)
def q_count_min_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    from flink_application_spark.functions.text import tokens

    occ = (
        docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .filter(F.col("w") != "")
    )
    exact = occ.groupBy("w").agg(F.count(F.lit(1)).alias("exact_n"))
    top20 = exact.orderBy(F.desc("exact_n"), F.asc("w")).limit(20)

    i_col = F.explode(F.array(*[F.lit(i) for i in range(_CMS_D)])).alias("i")
    salted = lambda i, w: _md5_bucket(F.concat(i.cast("string"), F.lit("|"), w), 1, 8, _CMS_W)  # noqa: E731
    cells = (
        occ.select("w", i_col)
        .select("i", salted(F.col("i"), F.col("w")).alias("bucket"))
        .groupBy("i", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    probes = top20.select("w", "exact_n", i_col).select(
        "w", "exact_n", "i", salted(F.col("i"), F.col("w")).alias("bucket")
    )
    return (
        probes.join(F.broadcast(cells), ["i", "bucket"])
        .groupBy(F.col("w").alias("word"), "exact_n")
        .agg(F.min("c").alias("cms_estimate"))
    )


# ---------------------------------------------------------------------------
# 8. Int8 embedding quantization error
# ---------------------------------------------------------------------------


@register(
    "emb_int8_quantization_error",
    """
WITH v AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings WHERE vec_id < 500
),
s AS (
  SELECT vec_id, e,
         list_max(list_transform(e, x -> abs(x))) AS max_abs
  FROM v
),
q AS (
  SELECT vec_id, max_abs,
         list_transform(e, x -> floor(x * 127.0 / max_abs + 0.5)) AS qv,
         e
  FROM s WHERE max_abs > 0
)
SELECT vec_id,
       round(max_abs, 6) + 0.0 AS max_abs,
       CAST(list_max(list_transform(qv, x -> abs(x))) AS BIGINT) AS q_max,
       round(list_max(list_transform(list_zip(e, qv),
             p -> abs(p[1] - p[2] * max_abs / 127.0))), 6) + 0.0
         AS max_abs_err
FROM q
""",
    doc="Symmetric int8 scalar quantization of the embedding column: "
    "per-vector scale 127/max|x|, code = floor(x*127/scale + 0.5) "
    "(floor(+0.5) not round() — identical half-handling on both "
    "engines), reported with the max reconstruction error. This is "
    "the memory-scale path for ANN: 4x smaller vectors than float32 "
    "(a 100 TB float corpus becomes 25 TB int8 + one scale per "
    "vector), dot products stay integer until the final rescale. "
    "Scan-local HOF arithmetic, no shuffle, no Python.",
    tags=("pipeline", "quantization", "embeddings"),
)
def q_int8_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    v = emb.filter(F.col("vec_id") < 500).select("vec_id", e.alias("e"))
    s = v.select(
        "vec_id", "e", F.array_max(F.transform(F.col("e"), F.abs)).alias("max_abs")
    )
    q = s.filter(F.col("max_abs") > 0).select(
        "vec_id",
        "max_abs",
        "e",
        F.transform(
            F.col("e"), lambda x: F.floor(x * 127.0 / F.col("max_abs") + 0.5)
        ).alias("qv"),
    )
    recon_err = F.array_max(
        F.zip_with(
            F.col("e"),
            F.col("qv"),
            lambda x, c: F.abs(x - c * F.col("max_abs") / 127.0),
        )
    )
    # recon_err must be projected BEFORE the select that re-aliases a
    # ROUNDED column as "max_abs": Spark's lateral-column-alias
    # resolution would bind recon_err's max_abs reference to the
    # rounded alias in the same select list, skewing the error in the
    # 6th decimal (observed 0.001225 vs 0.001224).
    out = q.select("vec_id", "max_abs", "qv", recon_err.alias("raw_err"))
    return out.select(
        "vec_id",
        (F.round(F.col("max_abs"), 6) + F.lit(0.0)).alias("max_abs"),
        F.array_max(F.transform(F.col("qv"), F.abs)).cast("bigint").alias("q_max"),
        (F.round(F.col("raw_err"), 6) + F.lit(0.0)).alias("max_abs_err"),
    )


@register(
    "events_funnel_time_to_convert",
    """
WITH views AS (
  SELECT user_id, min(ts) AS t_view
  FROM events WHERE event_type = 'view' GROUP BY user_id
),
conv AS (
  SELECT e.user_id,
         epoch_us(min(e.ts)) - epoch_us(v.t_view) AS delta_us
  FROM events e JOIN views v USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > v.t_view
  GROUP BY e.user_id, v.t_view
)
SELECT CAST(count(*) AS BIGINT) AS n_converted,
       round(CAST(quantile_cont(delta_us, 0.25) AS DOUBLE), 4) AS p25_us,
       round(CAST(quantile_cont(delta_us, 0.50) AS DOUBLE), 4) AS p50_us,
       round(CAST(quantile_cont(delta_us, 0.75) AS DOUBLE), 4) AS p75_us,
       round(CAST(quantile_cont(delta_us, 0.90) AS DOUBLE), 4) AS p90_us,
       CAST(min(delta_us) AS BIGINT) AS min_us,
       CAST(max(delta_us) AS BIGINT) AS max_us
FROM conv
""",
    doc="Funnel latency profile: per user, first 'view' then the first "
    "'purchase' strictly after it; report exact interpolated "
    "percentiles of the conversion delay (µs-integer deltas — exact "
    "on both engines, no float time math). Shape: two user_id-keyed "
    "hash aggs + one equi-join, then a single global percentile agg "
    "over one small delta per converted user. The scale path swaps "
    "percentile → approx_percentile (same API shape) once per-user "
    "rows no longer fit a single sort.",
    tags=("events", "funnel", "latency", "percentile"),
)
def q_funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    views = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    conv = (
        events.filter(F.col("event_type") == "purchase")
        .join(views, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id", "t_view")
        .agg(F.min("ts").alias("t_purchase"))
        .select(
            (
                F.unix_micros(F.col("t_purchase").cast("timestamp"))
                - F.unix_micros(F.col("t_view").cast("timestamp"))
            ).alias("delta_us")
        )
    )
    return conv.agg(
        F.count(F.lit(1)).alias("n_converted"),
        *[
            F.round(F.expr(f"percentile(delta_us, {q})"), 4).alias(
                f"p{int(q * 100)}_us"
            )
            for q in (0.25, 0.50, 0.75, 0.90)
        ],
        F.min("delta_us").alias("min_us"),
        F.max("delta_us").alias("max_us"),
    )
