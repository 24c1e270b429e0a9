"""CDR enrichment operators.

Spark-first re-expression of the reference pipeline's projection /
explode / join / coalesce stages (reference: AnasDol/flink-application,
src/main/java/org/example/EnrichmentApp.java — file:line cites below).

Every function is DataFrame -> DataFrame so batch and Structured
Streaming share them verbatim; none uses Python UDFs (all expressions
stay JVM-side in whole-stage codegen).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# ---------------------------------------------------------------------------
# Projection / derived columns (SURVEY §2.2)
# ---------------------------------------------------------------------------


def extend_with_partition_cols(df: DataFrame, date_as_string: bool = False) -> DataFrame:
    """P1-P4: add `event_date` + `probe` derived columns.

    Reference: EnrichmentApp.java:206-214 (`CAST(start_time AS DATE)`,
    `SUBSTRING(measuring_probe_name,1,2)`); the string-typed variant is
    EnrichmentAppWithoutExplode.java:208 (`DATE_FORMAT(...,'yyyy-MM-dd')`).
    """
    event_date = (
        F.date_format("start_time", "yyyy-MM-dd")
        if date_as_string
        else F.to_date("start_time")
    )
    return df.withColumn("event_date", event_date).withColumn(
        "probe", F.substring("measuring_probe_name", 1, 2)
    )


def with_proc_time(df: DataFrame, clock: Column | None = None) -> DataFrame:
    """P6: processing-time attribute (EnrichmentApp.java:216-223).

    `clock` is injectable so correctness tests stay deterministic; prod
    default is micro-batch wall clock (current_timestamp()).
    """
    return df.withColumn("proc_time", clock if clock is not None else F.current_timestamp())


def select_canonical(df: DataFrame, columns: list[str]) -> DataFrame:
    """P8: project back to the canonical output schema by name list
    (EnrichmentApp.java:118-123)."""
    return df.select(*columns)


def coalesce_enrich(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """P7: enrichment writeback — for each (target, source) pair set
    `target := coalesce(source, target)` (EnrichmentApp.java:128-132),
    then drop the temporary source columns."""
    for target, source in mapping.items():
        df = df.withColumn(target, F.coalesce(F.col(source), F.col(target)))
    return df.drop(*mapping.values())


# ---------------------------------------------------------------------------
# Explode (U1 / J6 lateral) — EnrichmentApp.java:225-233, 364-374
# ---------------------------------------------------------------------------


def explode_delimited(
    df: DataFrame,
    src_col: str,
    out_col: str = "ip",
    delimiter: str = ";",
    drop_empty: bool = True,
) -> DataFrame:
    """Explode a delimiter-joined string column to one row per token.

    The reference wraps IP lists as ';ip;' (CsvData.java:145-147), so
    empty tokens at the edges are expected and filtered (P5/P10 trim +
    `<> ''`, EnrichmentApp.java:229-231).

    `F.explode(F.split(...))` is exactly Flink's
    `LATERAL TABLE(split(...))` and stays inside codegen — no UDTF
    needed.
    """
    out = df.withColumn(out_col, F.explode(F.split(F.trim(F.col(src_col)), delimiter)))
    if drop_empty:
        out = out.filter(F.trim(F.col(out_col)) != "")
    return out.withColumn(out_col, F.trim(F.col(out_col)))


# ---------------------------------------------------------------------------
# Joins (SURVEY §2.3)
# ---------------------------------------------------------------------------


def lookup_join(
    stream_df: DataFrame,
    dim_df: DataFrame,
    on: Column,
    project: dict[str, str],
    how: str = "inner",
    broadcast_dim: bool = True,
) -> DataFrame:
    """J1/J2/J3: equi-join against a dimension, projecting renamed dim
    columns (`imsi AS _imsi` idiom, EnrichmentApp.java:281-298).

    Spark mapping of Flink's `FOR SYSTEM_TIME AS OF proc_time` lookup
    join (EnrichmentApp.java:300-318): in streaming this is a
    stream-static join. Every micro-batch executes it against the same
    static relation: a JDBC dim re-runs its query, but a parquet dim
    keeps the file listing it took when the DataFrame was created, so a
    file added later is never joined. The dimension is broadcast by
    default (it is the small side; Flink bounds it with a 100/1000-row
    lookup cache instead, flink.conf:37-38,47-48). `app.run`'s
    stream sinks do not use this join: they look the dims
    up on the driver in Arrow (`streaming/pipeline.lookup_candidates`)
    against `streaming/dim_refresh.RefreshingDim` tables, which is also
    how a dim changes while a query runs.
    """
    dim = dim_df.select(*[F.col(src).alias(dst) for dst, src in project.items()])
    if broadcast_dim:
        dim = F.broadcast(dim)
    return stream_df.join(dim, on, how)


def theta_asof_candidates(
    left: DataFrame,
    right: DataFrame,
    equi_keys: list[tuple[str, str]],
    left_ts: str,
    right_ts: str,
    how: str = "inner",
    broadcast_right: bool = True,
) -> DataFrame:
    """J4/J5: equi(probe,ip) + range (`left.ts >= right.ts`) join — the
    candidate-generation half of the as-of join
    (EnrichmentApp.java:320-340). Reduce with `dedup.argmax_dedup` to
    complete the as-of semantics (reference does it with a session
    window + max-by UDAF, EnrichmentApp.java:142-156).

    Catalyst plans the equi keys as a hash join with the range predicate
    as a post-join filter. At 100 TB the dimension side is either small
    (broadcast, default here) or bucketed on the equi keys; low-
    cardinality equi keys with many time versions are the skew risk —
    AQE skew-join handles moderate cases, `asof.asof_join` is the
    scalable per-key implementation.
    """
    cond = None
    for lk, rk in equi_keys:
        c = left[lk] == right[rk]
        cond = c if cond is None else (cond & c)
    cond = cond & (left[left_ts] >= right[right_ts])
    r = F.broadcast(right) if broadcast_right else right
    return left.join(r, cond, how)
