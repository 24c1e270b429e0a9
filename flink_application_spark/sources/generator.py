"""Seeded synthetic CDR generator (SURVEY §2.1 S7-S9, M4).

Spark-first re-expression of the reference's generator job
(Generator.java:18-71 + CsvData.java:42-154): instead of a per-row
Java iterator cycling a JDBC ResultSet, we *declare* the same
distributions as columnar expressions over either

- a bounded `spark.range(n)` (batch; deterministic under a seed), or
- the `rate` streaming source (unbounded, rows-per-second-limited —
  the DataGeneratorSource analogue, flink.conf:7-8),

and the dimension seeding (`ORDER BY RANDOM()` over unnested Postgres
rows, CsvData.java:56-80) becomes a seeded-random join against the dim
DataFrame. Everything is JVM-side expression work — no Python UDFs —
so the same `synthesize_cdr` applies to both batch and streaming
inputs, and generation parallelizes across executors at any scale.

Distributions mirrored exactly:
- start_time uniform in [start_min_ms, start_max_ms]
  (CsvData.java:129-131; defaults flink.conf:5-6)
- measuring_probe_name = random code from the 15-element list + "..."
  (CsvData.java:133-135, list at :49)
- imsi/msisdn kept with probability p, else NULL (empty CSV field)
  (CsvData.java:137-143; p = 0.5 / 0.1 per flink.conf:9-10)
- ms_ip_address wrapped ";ip;" (CsvData.java:145-147)
- unique_cdr_id = epoch-millis-prefix ++ random 6 digits
  (CsvData.java:149-152) — quasi-unique with deliberate collisions
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

# CsvData.java:49
PROBES = [
    "DE", "cl", "ek", "ir", "kg", "kh", "mn", "nn", "ns", "rd", "sp", "sr", "st", "vr", "yd",
]

# flink.conf:5-6 (2022-05 → 2026-05, epoch ms)
START_MIN_MS = 1_653_475_440_000
START_MAX_MS = 1_779_705_840_000


def seed_dim_sample(dim: DataFrame, seed: int) -> DataFrame:
    """S9: the generator samples *real* dimension rows so joins hit
    (CsvData.java:56-80's `ORDER BY RANDOM()` + ResultSet recycling).
    Assign each dim row a stable random slot; callers join on
    `slot = row_index % dim_count`."""
    # row_number over a seeded-random order → contiguous slots 0..n-1.
    # The dim is small (it's the broadcast side); the single-partition
    # window here is not on the scale path.
    return dim.withColumn(
        "slot", F.row_number().over(Window.orderBy(F.rand(seed))) - 1
    )


def synthesize_cdr(
    rows: DataFrame,
    dim: DataFrame,
    *,
    seed: int = 42,
    imsi_not_null_p: float = 0.5,
    msisdn_not_null_p: float = 0.1,
    start_min_ms: int = START_MIN_MS,
    start_max_ms: int = START_MAX_MS,
) -> DataFrame:
    """Map a (value BIGINT)-bearing DataFrame (spark.range or rate
    source) to CDR rows with the reference distributions.

    `dim` must have columns (imsi BIGINT, msisdn BIGINT, ip STRING) —
    the shape of the reference's unnested seed query
    (CsvData.java:63-74).
    """
    dim_seeded = F.broadcast(seed_dim_sample(dim.select("imsi", "msisdn", "ip"), seed))
    n_dim = dim_seeded.count()

    probe_array = F.array(*[F.lit(p) for p in PROBES])
    span = start_max_ms - start_min_ms

    base = rows.select(
        F.col("value").alias("_row_id"),
        (F.col("value") % F.lit(n_dim)).alias("slot"),
        F.rand(seed).alias("_r_ts"),
        F.rand(seed + 1).alias("_r_probe"),
        F.rand(seed + 2).alias("_r_imsi"),
        F.rand(seed + 3).alias("_r_msisdn"),
        F.rand(seed + 4).alias("_r_uid"),
    )

    return (
        base.join(dim_seeded, "slot")
        .select(
            F.timestamp_millis(
                (F.lit(start_min_ms) + (F.col("_r_ts") * span).cast("bigint"))
            ).alias("start_time"),
            F.concat(
                F.element_at(probe_array, (F.col("_r_probe") * len(PROBES)).cast("int") + 1),
                F.lit("..."),
            ).alias("measuring_probe_name"),
            F.when(F.col("_r_imsi") < imsi_not_null_p, F.col("imsi")).alias("imsi"),
            F.when(F.col("_r_msisdn") < msisdn_not_null_p, F.col("msisdn")).alias("msisdn"),
            F.concat(F.lit(";"), F.col("ip"), F.lit(";")).alias("ms_ip_address"),
            # epoch-millis ++ 6 random digits, as a BIGINT (CsvData.java:149-152);
            # seeded variant derives the "millis" prefix from the row id for
            # determinism — ~100 rows share a prefix, giving the same
            # quasi-unique-with-collisions property the reference has.
            (F.lit(1_700_000_000_000) + (F.col("_row_id") / 100).cast("bigint"))
            .cast("string")
            .alias("_uid_prefix"),
            F.col("_r_uid"),
        )
        .withColumn(
            "unique_cdr_id",
            F.concat(
                F.col("_uid_prefix"),
                ((F.col("_r_uid") * 1_000_000).cast("int")).cast("string"),
            ).cast("bigint"),
        )
        .drop("_uid_prefix", "_r_uid")
    )


def batch_cdr(
    spark: SparkSession, dim: DataFrame, n_rows: int, seed: int = 42, **kw
) -> DataFrame:
    """Bounded deterministic generation (test fixtures / demos)."""
    return synthesize_cdr(
        spark.range(n_rows).withColumnRenamed("id", "value"), dim, seed=seed, **kw
    )


def stream_cdr(
    spark: SparkSession, dim: DataFrame, rows_per_second: int = 10, seed: int = 42, **kw
) -> DataFrame:
    """Unbounded rate-limited generation — the Generator job shape
    (rate source ≈ DataGeneratorSource at rowsPerSecond, flink.conf:7).
    Chain with `sources.csv_decode.encode_csv_value` + a Kafka/file sink
    for full generator parity (Generator.java:49-64)."""
    # Spark's rate source: (timestamp TIMESTAMP, value BIGINT) rows
    rate = spark.readStream.format("rate").option("rowsPerSecond", rows_per_second).load()
    return synthesize_cdr(rate, dim, seed=seed, **kw)


def generator_kwargs(cfg: dict[str, Any]) -> dict[str, Any]:
    """Map a config's `generator` block (the flink.conf translation
    keeps the reference's own key names, flink.conf:4-11) onto
    `synthesize_cdr` keyword arguments, so the reference's generator
    job runs with ITS configured distributions:

        kw = generator_kwargs(app.load_config("flink.conf"))
        batch_cdr(spark, dim, n_rows=1000, **kw)              # bounded
        stream_cdr(spark, dim, rows_per_second=rps, **kw)     # S7 shape
    """
    g = cfg.get("generator", {})
    out: dict[str, Any] = {}
    if "imsiNotNullProbability" in g:
        out["imsi_not_null_p"] = float(g["imsiNotNullProbability"])
    if "msisdnNotNullProbability" in g:
        out["msisdn_not_null_p"] = float(g["msisdnNotNullProbability"])
    if "startTime_min" in g:
        out["start_min_ms"] = int(g["startTime_min"])
    if "startTime_max" in g:
        out["start_max_ms"] = int(g["startTime_max"])
    return out
