"""Streaming source constructors (SURVEY §2.1 S1/S2/S3).

Each returns a streaming DataFrame; the Kafka/JDBC variants are thin
config builders whose endpoints aren't present in the test container,
so hermetic tests use the file sources through the *same*
downstream operators (Spark's unified API makes the pipeline code
identical).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from flink_application_spark.sources.csv_decode import (
    CDR_CSV_SCHEMA_DDL,
    decode_csv_value,
)


def file_stream(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema_ddl: str | None = None,
    max_files_per_trigger: int | None = None,
    **options: str,
) -> DataFrame:
    """Directory-watching file source — the hermetic stand-in for Kafka.

    Streaming file sources require an explicit schema; pass
    `schema_ddl` or rely on the caller having written a schema-stable
    directory (we infer from a batch peek in that case).
    """
    reader = spark.readStream.format(fmt)
    if schema_ddl is not None:
        reader = reader.schema(schema_ddl)
    else:
        reader = reader.schema(spark.read.format(fmt).options(**options).load(path).schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.options(**options).load(path)


def csv_line_stream(
    spark: SparkSession,
    path: str,
    schema_ddl: str = CDR_CSV_SCHEMA_DDL,
    drop_malformed: bool = True,
) -> DataFrame:
    """Text-file stream of raw CSV lines, decoded with the reference's
    null-literal + ignore-parse-errors semantics (S1 minus the broker).
    """
    raw = spark.readStream.format("text").load(path).withColumnRenamed("value", "value")
    return decode_csv_value(raw, schema_ddl, drop_malformed=drop_malformed)


def kafka_startup_options(
    topic: str,
    mode: str = "latest-offset",
    *,
    timestamp_ms: int | None = None,
    specific_offsets: dict[int, int] | None = None,
) -> dict[str, str]:
    """Map the reference's `scan.startup.mode` values
    (EnrichmentAppWithoutExplode.java:176; Flink Kafka connector
    surface) onto Spark structured-streaming Kafka reader options:

    - ``earliest-offset`` → ``startingOffsets=earliest``
    - ``latest-offset``   → ``startingOffsets=latest``
    - ``timestamp``       → ``startingTimestamp=<ms>`` (requires
      ``timestamp_ms``)
    - ``specific-offsets``→ ``startingOffsets`` JSON per partition
      (requires ``specific_offsets`` {partition: offset})
    - ``group-offsets``   → rejected: Spark tracks progress in its own
      checkpoint, not the consumer group — resuming from the
      checkpoint IS the group-offsets semantic here (documented
      divergence, README "Divergences").
    """
    import json

    if mode == "earliest-offset":
        return {"startingOffsets": "earliest"}
    if mode == "latest-offset":
        return {"startingOffsets": "latest"}
    if mode == "timestamp":
        if timestamp_ms is None:
            raise ValueError("scan.startup.mode=timestamp needs timestamp_ms")
        return {"startingTimestamp": str(timestamp_ms)}
    if mode == "specific-offsets":
        if not specific_offsets:
            raise ValueError(
                "scan.startup.mode=specific-offsets needs {partition: offset}"
            )
        return {
            "startingOffsets": json.dumps(
                {topic: {str(p): int(o) for p, o in specific_offsets.items()}}
            )
        }
    if mode == "group-offsets":
        raise ValueError(
            "group-offsets has no Spark equivalent: restart from the "
            "checkpoint directory instead (Spark-managed offsets)"
        )
    raise ValueError(f"unknown scan.startup.mode: {mode}")


def kafka_csv_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    schema_ddl: str = CDR_CSV_SCHEMA_DDL,
    group_id: str | None = None,
    startup_mode: str = "latest-offset",
    timestamp_ms: int | None = None,
    specific_offsets: dict[int, int] | None = None,
    sasl_jaas: str | None = None,
    drop_malformed: bool = True,
    **reader_options: str,
) -> DataFrame:
    """S1: Kafka CSV source (EnrichmentApp.java:160-181; SASL/Kerberos +
    startup-mode options per EnrichmentAppWithoutExplode.java:174-176).

    Startup modes map via `kafka_startup_options` (unit-tested; the
    broker path itself is untestable in this container — the decode
    path is shared with `csv_line_stream`, which the tests cover).
    Extra reader options (e.g. ``failOnDataLoss="false"``,
    flink.conf's key verbatim) pass through via ``**reader_options``.
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
    )
    for k, v in reader_options.items():
        reader = reader.option(k, v)
    for k, v in kafka_startup_options(
        topic, startup_mode, timestamp_ms=timestamp_ms,
        specific_offsets=specific_offsets,
    ).items():
        reader = reader.option(k, v)
    if group_id is not None:
        reader = reader.option("kafka.group.id", group_id)
    if sasl_jaas is not None:
        reader = (
            reader.option("kafka.security.protocol", "SASL_PLAINTEXT")
            .option("kafka.sasl.mechanism", "GSSAPI")
            .option("kafka.sasl.jaas.config", sasl_jaas)
        )
    return decode_csv_value(reader.load(), schema_ddl, drop_malformed=drop_malformed)


def jdbc_dim(
    spark: SparkSession,
    url: str,
    table: str,
    *,
    user: str | None = None,
    password: str | None = None,
    parquet_fallback: str | None = None,
) -> DataFrame:
    """S2/S3: JDBC dimension scan (EnrichmentApp.java:235-269).

    In stream-static joins Spark re-plans this scan per micro-batch —
    the idiomatic mapping of Flink's TTL'd lookup cache (freshness =
    trigger interval rather than 60 s row-TTL; divergence documented in
    SURVEY §7.3). `parquet_fallback` provides the hermetic test path.
    """
    if parquet_fallback is not None:
        return spark.read.parquet(parquet_fallback)
    reader = (
        spark.read.format("jdbc").option("url", url).option("dbtable", table)
    )
    if user is not None:
        reader = reader.option("user", user)
    if password is not None:
        reader = reader.option("password", password)
    return reader.load()
