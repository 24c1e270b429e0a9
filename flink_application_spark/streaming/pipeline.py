"""End-to-end streaming CDR enrichment (the reference job, stream form).

Topology (EnrichmentApp.run(), :59-110):

    src (Kafka CSV / file / rate)                 [streaming]
      → derive event_date, probe                  (P1-P4)
      ├─ imsi present  → lookup-join imsi_msisdn  (J1/J2, stream-static)
      │                  → coalesce writeback     (P7)
      └─ imsi missing  → explode IP list          (U1/J6)
                         → theta as-of join ms_ip (J4)
                         → session-window arg-max (W1/W2)
      → unionByName → canonical schema → sink     (S4/S5, R4)

`enrichment_candidates` is the stateless part: Path-A rows and Path-B
as-of candidates in one schema. `app.run` runs one engine for every
stream sink, on the driver: Spark runs only `lookup_projection`'s
per-row expressions, one scan of the source; `closing_batch_fn`
collects each micro-batch once as Arrow, `lookup_candidates` joins it
with Acero against dim tables `dim_refresh.RefreshingDim` holds (loaded
once per query, once per TTL, or every batch for a JDBC dim without a
TTL; the first generations load in the background while the query
starts, and a batch that gets there first waits for them), and
`dedup.SessionCloser` emits a session in the micro-batch whose
watermark passes its end. One Spark job per micro-batch.

`streaming_enrichment` is the Spark form: `enrichment_candidates`
joins the dims stream-static and Spark's session window
(`dedup.session_argmax_dedup`) reduces the candidates. It is the batch
plan of ``app.run`` and the reference the driver engine is tested
against.

The batch pipeline in ``plans/cdr.py`` shares every operator; only the
dedup stage differs (session window with watermark vs batch
window-rank) — tests assert batch output ≡ stream output on the same
input (SURVEY §5 batch-vs-stream equivalence).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from flink_application_spark.operators.enrichment import (
    coalesce_enrich,
    explode_delimited,
    extend_with_partition_cols,
    lookup_join,
    select_canonical,
    theta_asof_candidates,
    with_proc_time,
)
from flink_application_spark.plans.cdr import _ASOF_ORDER_SPARK, CANONICAL
from flink_application_spark.streaming.dedup import SessionCloser, session_argmax_dedup
from flink_application_spark.streaming.dim_refresh import RefreshingDim


# Columns `enrichment_candidates` adds to CANONICAL besides the `_asof`
# flag: the as-of order keys the canonical columns lack, and the
# session axis.
_CANDIDATE_KEYS = ["_start_time", "_msisdn", "proc_time"]


def enrichment_candidates(
    src: DataFrame,
    imsi_msisdn: DataFrame,
    ms_ip: DataFrame,
    *,
    path_a_how: str = "inner",
    clock: Column | None = None,
) -> DataFrame:
    """The stateless part of the enrichment: Path-A rows (final) and
    Path-B as-of candidates (to be reduced per session), in one schema:
    CANONICAL with the coalesce writeback applied, plus `_start_time`,
    `_msisdn`, `proc_time` and the `_asof` flag. `_asof` is false on
    Path-A rows, whose other three extra columns are NULL.

    The dims are static DataFrames joined stream-static: Spark plans
    each micro-batch against the same relation, so a plain
    ``spark.read.parquet(dir)`` dim keeps the file listing it took when
    it was created — a file added to ``dir`` later is never joined.
    Dims that must change while the query runs are `RefreshingDim`
    tables on the driver (`closing_batch_fn`). This is the reference
    `lookup_candidates` is tested against.

    `clock` injects a deterministic proc-time for tests (P6); the
    default uses the event's own start_time as the session axis, which
    makes the stream replayable (proc-time wall clocks are not).
    """
    extended = extend_with_partition_cols(src)

    # Path B — imsi missing
    exploded = explode_delimited(
        extended.filter(F.col("imsi").isNull()), "ms_ip_address", out_col="ip"
    )
    candidates = theta_asof_candidates(
        exploded,
        ms_ip_lookup_dim(ms_ip),
        equi_keys=[("probe", "_probe"), ("ip", "_ip")],
        left_ts="start_time",
        right_ts="_start_time",
    )
    candidates = with_proc_time(
        candidates, clock if clock is not None else F.col("start_time")
    )
    # the coalesce writeback, keeping `_msisdn` as an order key
    b = select_canonical(
        candidates.withColumns(
            {c: F.coalesce(F.col(f"_{c}"), F.col(c)) for c in ("imsi", "msisdn")}
        ),
        CANONICAL + _CANDIDATE_KEYS,
    ).withColumn("_asof", F.lit(True))

    # Path A — imsi present
    a = lookup_join(
        extended.filter(F.col("imsi").isNotNull()),
        imsi_msisdn,
        on=F.col("imsi") == F.col("_imsi"),
        project={"_imsi": "imsi", "_msisdn": "msisdn"},
        how=path_a_how,
    )
    a = select_canonical(
        coalesce_enrich(a, {"imsi": "_imsi", "msisdn": "_msisdn"}), CANONICAL
    ).withColumns(
        {c: F.lit(None).cast(b.schema[c].dataType) for c in _CANDIDATE_KEYS}
        | {"_asof": F.lit(False)}
    )
    return a.unionByName(b)


def streaming_enrichment(
    src: DataFrame,
    imsi_msisdn: DataFrame,
    ms_ip: DataFrame,
    *,
    path_a_how: str = "inner",
    gap: str = "1 second",
    watermark_delay: str = "2 seconds",
    clock: Column | None = None,
) -> DataFrame:
    """Full enrichment on a streaming or batch `src`:
    `enrichment_candidates`, then Spark's session-window arg-max over
    the Path-B candidates (`dedup.session_argmax_dedup`), in CANONICAL
    columns."""
    cands = enrichment_candidates(
        src, imsi_msisdn, ms_ip, path_a_how=path_a_how, clock=clock
    )
    a = cands.filter(~F.col("_asof")).select(*CANONICAL)
    best = session_argmax_dedup(
        cands.filter(F.col("_asof")),
        key_cols=["unique_cdr_id"],
        order_col=F.struct(*[F.col(c) for c in _ASOF_ORDER_SPARK]),
        ts_col="proc_time",
        gap=gap,
        watermark_delay=watermark_delay,
    )
    return a.unionByName(best.select(*CANONICAL))





def lookup_projection(src: DataFrame, partition_by: tuple[str, ...] = ()) -> DataFrame:
    """The stream side of `closing_batch_fn`: every per-row expression of
    `enrichment_candidates` and none of its joins, so one stateless scan
    of `src`. `extend_with_partition_cols`, the `partition_by` columns
    cast to their string form (as the writer takes them), and ``_ips``:
    on a Path-B row (``imsi`` NULL) the tokens `explode_delimited` cuts
    from ``ms_ip_address`` — split on ``;``, trimmed, empties dropped —
    and NULL on a Path-A row."""
    extended = extend_with_partition_cols(src)
    tokens = F.filter(
        F.transform(F.split(F.trim(F.col("ms_ip_address")), ";"), lambda t: F.trim(t)),
        lambda t: t != "",
    )
    return extended.withColumns(
        {c: extended[c].cast("string") for c in partition_by}
        | {"_ips": F.when(F.col("imsi").isNull(), tokens)}
    )


def imsi_lookup_dim(imsi_msisdn: DataFrame) -> DataFrame:
    """The Path-A dim as `lookup_candidates` reads it."""
    return imsi_msisdn.select(F.col("imsi").alias("_imsi"), F.col("msisdn").alias("_msisdn"))


def ms_ip_lookup_dim(ms_ip: DataFrame) -> DataFrame:
    """The Path-B dim, one row per (version, IP), as both
    `enrichment_candidates` and `lookup_candidates` read it."""
    return explode_delimited(ms_ip, "ms_ip_address", out_col="ip").select(
        F.col("start_time").alias("_start_time"),
        F.col("imsi").alias("_imsi"),
        F.col("msisdn").alias("_msisdn"),
        F.col("probe").alias("_probe"),
        F.col("ip").alias("_ip"),
    )


def lookup_candidates(batch, imsi_msisdn, ms_ip, *, path_a_how: str = "inner"):
    """`enrichment_candidates` on one collected micro-batch. ``batch``
    holds `lookup_projection` rows; ``imsi_msisdn`` and ``ms_ip`` are
    `imsi_lookup_dim` and `ms_ip_lookup_dim` collected with
    ``toArrow()``. Returns, as an Arrow table, the rows Spark's plan
    returns (as a multiset) in its columns and types; every column but
    ``_asof`` is nullable, as it is for a file source.

    Both lookups are Acero hash joins run on one thread, so one input
    always gives one row order. Path A joins on ``imsi = _imsi``,
    ``inner`` or ``left outer`` per `path_a_how`; Path B explodes
    ``_ips``, joins on ``(probe, ip) = (_probe, _ip)`` and keeps
    ``start_time >= _start_time``. A NULL key matches nothing, as in
    Spark. Dim columns are cast to the types of the batch columns they
    are compared with or written back to."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    # Path B's column for each output column: proc_time is start_time
    path_b_cols = CANONICAL + ["_start_time", "_msisdn", "start_time"]
    field = batch.schema.field
    schema = pa.schema(
        [pa.field(c, field(src.lstrip("_")).type) for c, src in zip(CANONICAL + _CANDIDATE_KEYS, path_b_cols)]
        + [pa.field("_asof", pa.bool_(), nullable=False)]
    )

    def join(left, dim, keys, dim_keys, how):
        # each dim column in the type of the batch column it meets
        to = left.schema.field
        dim = dim.cast(pa.schema([(n, to(n[1:]).type) for n in dim.column_names]))
        out = left.join(dim, keys, dim_keys, join_type=how, coalesce_keys=False, use_threads=False)
        for c in ("imsi", "msisdn"):  # the coalesce writeback
            out = out.set_column(
                out.schema.get_field_index(c), c, pc.coalesce(out[f"_{c}"], out[c])
            )
        return out

    def flag(value: bool, n: int):
        return pa.array(np.full(n, value))

    path_a = pc.is_valid(batch["imsi"])
    a = join(
        batch.filter(path_a).drop_columns(["_ips"]),
        imsi_msisdn,
        "imsi",
        "_imsi",
        {"inner": "inner", "left": "left outer"}[path_a_how],
    )
    a = pa.table(
        [a[c] for c in CANONICAL]
        + [pa.nulls(a.num_rows, schema.field(k).type) for k in _CANDIDATE_KEYS]
        + [flag(False, a.num_rows)],
        schema=schema,
    )

    b = batch.filter(pc.invert(path_a))
    ips = b["_ips"].combine_chunks()
    b = b.drop_columns(["_ips"]).take(pc.list_parent_indices(ips))
    b = b.append_column("ip", pc.list_flatten(ips))
    b = join(b, ms_ip, ["probe", "ip"], ["_probe", "_ip"], "inner")
    b = b.filter(pc.greater_equal(b["start_time"], b["_start_time"]))
    b = pa.table(
        [b[c] for c in path_b_cols] + [flag(True, b.num_rows)],
        schema=schema,
    )
    return pa.concat_tables([a, b])


def closing_batch_fn(
    imsi_msisdn: RefreshingDim,
    ms_ip: RefreshingDim,
    closer: SessionCloser,
    write_arrow,
    *,
    path_a_how: str = "inner",
):
    """A ``foreachBatch`` function over `lookup_projection` rows, every
    stream sink of ``app.run``: collects the
    micro-batch once as Arrow (its one Spark job), looks both dims up
    with `lookup_candidates` against the tables ``imsi_msisdn`` and
    ``ms_ip`` hold now, closes sessions with `closer` and hands the
    CANONICAL rows to ``write_arrow(table, batch_id)`` — e.g.
    `SizeCalibratedRoller.write_arrow`. The dims' reload rules are
    theirs (`RefreshingDim`)."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        cands = lookup_candidates(
            batch_df.toArrow(), imsi_msisdn.get(), ms_ip.get(), path_a_how=path_a_how
        )
        write_arrow(closer(cands, batch_id).select(CANONICAL), batch_id)

    return _process
