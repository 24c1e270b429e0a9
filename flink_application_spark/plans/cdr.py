"""CDR enrichment — the reference's core pipeline, oracle-checked.

Fixture strategy: the reference domain (CDR `src` stream + `imsi_msisdn`
/ `ms_ip` Postgres dimensions, FIXTURES.md §A) is derived
*deterministically from the driver's `events` table* with SQL that runs
verbatim on both Spark and DuckDB (shared dialect subset: substr, ||,
CASE, %, CAST). That makes every stage of the enrichment pipeline —
including the as-of join + arg-max dedup — hash-checkable against the
DuckDB oracle at any scale factor.

Distributions mirror the reference generator (CsvData.java:129-152,
flink.conf:9-10): imsi non-null p=0.5 (event_id%2), msisdn non-null
p=0.1 (event_id%10), probe codes from the 15-element list
(CsvData.java:49), IP lists wrapped in ';' (CsvData.java:145-147),
quasi-unique cdr ids with deliberate collisions to exercise dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_application_spark.catalog import _keep_application, table
from flink_application_spark.operators.dedup import argmax_dedup
from flink_application_spark.operators.enrichment import (
    coalesce_enrich,
    explode_delimited,
    extend_with_partition_cols,
    lookup_join,
    select_canonical,
    theta_asof_candidates,
)
from flink_application_spark.plans.registry import register

# The reference generator's 15 probe codes (CsvData.java:49).
PROBE_CODES = ["DE", "cl", "ek", "ir", "kg", "kh", "mn", "nn", "ns", "rd", "sp", "sr", "st", "vr", "yd"]
PROBE_ALPHABET = "".join(PROBE_CODES)

_PROBE_EXPR = f"substr('{PROBE_ALPHABET}', 1 + (user_id % 15) * 2, 2)"

# --- shared-dialect fixture derivations (run identically on Spark & DuckDB) ---

CDR_SRC_SQL = f"""
SELECT
  ts AS start_time,
  {_PROBE_EXPR} || '-probe-' || CAST(user_id AS STRING) AS measuring_probe_name,
  CASE WHEN event_id % 2 = 0 THEN 250000000000 + user_id END AS imsi,
  CASE WHEN event_id % 10 = 0 THEN 79000000000 + user_id END AS msisdn,
  CASE WHEN event_id % 3 = 0
       THEN ';10.' || CAST(user_id AS STRING) || '.0.1;10.' || CAST(user_id AS STRING) || '.0.2;'
       ELSE ';10.' || CAST(user_id AS STRING) || '.0.1;'
  END AS ms_ip_address,
  CAST(floor(event_id / 4.0) AS BIGINT) * 1000 + user_id % 7 AS unique_cdr_id
FROM events
"""

IMSI_MSISDN_SQL = """
SELECT DISTINCT
  250000000000 + user_id AS imsi,
  79001000000 + user_id AS msisdn
FROM events
WHERE user_id % 5 <> 3
"""

MS_IP_SQL = f"""
SELECT
  ts AS start_time,
  250000000000 + user_id AS imsi,
  79002000000 + user_id * 1000 + event_id % 997 AS msisdn,
  ';10.' || CAST(user_id AS STRING) || '.0.1;10.' || CAST(user_id AS STRING) || '.0.2;' AS ms_ip_address,
  {_PROBE_EXPR} AS probe
FROM events
WHERE event_type = 'signup'
"""

FIXTURE_VIEWS = {
    "cdr_src": CDR_SRC_SQL,
    "imsi_msisdn": IMSI_MSISDN_SQL,
    "ms_ip": MS_IP_SQL,
}

# DuckDB-side explode of ms_ip (engine-specific: unnest vs F.explode).
MS_IP_EXPLODED_ORACLE = """
SELECT start_time, imsi, msisdn, ms_ip_address, probe, trim(ip) AS ip
FROM (
  SELECT m.*, unnest(string_split(trim(ms_ip_address), ';')) AS ip FROM ms_ip m
)
WHERE trim(ip) <> ''
"""


def fixture_cte(*names: str, extra: dict[str, str] | None = None) -> str:
    """Build the `WITH ...` prefix declaring fixture views for oracle SQL."""
    parts = [f"{n} AS ({FIXTURE_VIEWS[n]})" for n in names]
    for alias, sql in (extra or {}).items():
        parts.append(f"{alias} AS ({sql})")
    return "WITH " + ",\n".join(parts)


# (applicationId, sf_dir) -> (events handle, derived fixture frames)
_FIXTURES: dict[tuple, tuple[DataFrame, dict[str, DataFrame]]] = {}


def cdr_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register base tables + derived CDR fixture views; return handles.

    The derived frames are built once per `events` handle: a rewritten
    file or a new application gets a new handle from `catalog.table`,
    which rebuilds them. The temp views are re-bound on every call."""
    events = table(spark, sf_dir, "events")
    key = (spark.sparkContext.applicationId, sf_dir)
    hit = _FIXTURES.get(key)
    if hit is None or hit[0] is not events:
        _keep_application(_FIXTURES, key[0])
        frames = {name: spark.sql(sql) for name, sql in FIXTURE_VIEWS.items()}
        hit = _FIXTURES[key] = (events, frames)
    for name, df in hit[1].items():
        df.createOrReplaceTempView(name)
    return dict(hit[1])


# Canonical output schema: src columns + partition columns
# (EnrichmentApp.java:67, 118-123, 183-204).
CANONICAL = [
    "start_time",
    "measuring_probe_name",
    "imsi",
    "msisdn",
    "ms_ip_address",
    "unique_cdr_id",
    "event_date",
    "probe",
]



# ---------------------------------------------------------------------------
# Stage queries
# ---------------------------------------------------------------------------


@register(
    "cdr_src_extended",
    fixture_cte("cdr_src")
    + """
SELECT s.*,
       CAST(start_time AS DATE) AS event_date,
       substr(measuring_probe_name, 1, 2) AS probe
FROM cdr_src s
""",
    doc="P1-P4: derive event_date + probe partition columns "
    "(EnrichmentApp.java:206-214).",
    tags=("cdr", "projection"),
)
def q_cdr_src_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = cdr_views(spark, sf_dir)
    return extend_with_partition_cols(v["cdr_src"])


@register(
    "cdr_exploded",
    fixture_cte("cdr_src")
    + """
SELECT start_time, measuring_probe_name, imsi, msisdn, ms_ip_address,
       unique_cdr_id, event_date, probe, trim(ip) AS ip
FROM (
  SELECT s.*,
         CAST(start_time AS DATE) AS event_date,
         substr(measuring_probe_name, 1, 2) AS probe,
         unnest(string_split(trim(ms_ip_address), ';')) AS ip
  FROM cdr_src s
)
WHERE trim(ip) <> ''
""",
    doc="U1/J6: lateral explode of the ';'-delimited IP list with edge-token "
    "filtering (EnrichmentApp.java:225-233, 364-374).",
    tags=("cdr", "explode"),
)
def q_cdr_exploded(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = cdr_views(spark, sf_dir)
    return explode_delimited(
        extend_with_partition_cols(v["cdr_src"]), "ms_ip_address", out_col="ip"
    )


@register(
    "cdr_exploded_udtf",
    fixture_cte("cdr_src")
    + """
SELECT start_time, measuring_probe_name, imsi, msisdn, ms_ip_address,
       unique_cdr_id, event_date, probe, trim(ip) AS ip
FROM (
  SELECT s.*,
         CAST(start_time AS DATE) AS event_date,
         substr(measuring_probe_name, 1, 2) AS probe,
         unnest(string_split(trim(ms_ip_address), ';')) AS ip
  FROM cdr_src s
)
WHERE trim(ip) <> ''
""",
    doc="U1 generic surface: the same lateral explode through a "
    "registered Python table function invoked from SQL "
    "(functions/udtf.py:SplitTokens ≙ the reference's named Split UDTF, "
    "EnrichmentApp.java:364-374/:51). Arrow-batched; the production "
    "path is the Catalyst explode in `cdr_exploded` — this query "
    "exists to pin the registered-by-name UDTF machinery end-to-end.",
    tags=("cdr", "explode", "udtf"),
)
def q_cdr_exploded_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_application_spark.functions.udtf import register_udtfs

    v = cdr_views(spark, sf_dir)
    register_udtfs(spark)
    extend_with_partition_cols(v["cdr_src"]).createOrReplaceTempView(
        "cdr_src_extended_udtf"
    )
    return spark.sql(
        """
        SELECT e.start_time, e.measuring_probe_name, e.imsi, e.msisdn,
               e.ms_ip_address, e.unique_cdr_id, e.event_date, e.probe,
               trim(t.token) AS ip
        FROM cdr_src_extended_udtf e,
             LATERAL split_tokens(trim(e.ms_ip_address), ';') t
        WHERE trim(t.token) <> ''
        """
    )


@register(
    "cdr_dim_exploded",
    fixture_cte("ms_ip") + MS_IP_EXPLODED_ORACLE,
    doc="Pre-exploded dimension invariant: ms_ip_exploded = "
    "explode(split(ms_ip)) with empty tokens dropped "
    "(EnrichmentAppWithoutExplode.java:253-273, FIXTURES.md A4).",
    tags=("cdr", "explode"),
)
def q_cdr_dim_exploded(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = cdr_views(spark, sf_dir)
    return explode_delimited(v["ms_ip"], "ms_ip_address", out_col="ip")


def _path_a(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    v = cdr_views(spark, sf_dir)
    src = extend_with_partition_cols(v["cdr_src"]).filter(F.col("imsi").isNotNull())
    joined = lookup_join(
        src,
        v["imsi_msisdn"],
        on=F.col("imsi") == F.col("_imsi"),
        project={"_imsi": "imsi", "_msisdn": "msisdn"},
        how=how,
    )
    return select_canonical(
        coalesce_enrich(joined, {"imsi": "_imsi", "msisdn": "_msisdn"}), CANONICAL
    )


def _path_a_body(join_kw: str) -> str:
    return f"""
SELECT
  s.start_time,
  s.measuring_probe_name,
  coalesce(d.imsi, s.imsi) AS imsi,
  coalesce(d.msisdn, s.msisdn) AS msisdn,
  s.ms_ip_address,
  s.unique_cdr_id,
  CAST(s.start_time AS DATE) AS event_date,
  substr(s.measuring_probe_name, 1, 2) AS probe
FROM cdr_src s {join_kw} imsi_msisdn d ON s.imsi = d.imsi
WHERE s.imsi IS NOT NULL
"""


def _path_a_oracle(join_kw: str) -> str:
    return fixture_cte("cdr_src", "imsi_msisdn") + _path_a_body(join_kw)


@register(
    "cdr_enrich_path_a",
    _path_a_oracle("JOIN"),
    doc="Path A: imsi present → lookup-join imsi_msisdn (INNER) + coalesce "
    "writeback + canonical projection (EnrichmentApp.java:70-78, 300-318, "
    "128-132). Spark: broadcast stream-static equi-join.",
    tags=("cdr", "join"),
)
def q_cdr_path_a(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _path_a(spark, sf_dir, "inner")


@register(
    "cdr_enrich_path_a_left",
    _path_a_oracle("LEFT JOIN"),
    doc="Path A, LEFT variant: unmatched rows pass through with original "
    "NULLs (EnrichmentAppWithoutExplode.java:275-293).",
    tags=("cdr", "join"),
)
def q_cdr_path_a_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _path_a(spark, sf_dir, "left")


# Deterministic tie-break for the arg-max reduction (SURVEY §5: the
# reference UDAF keeps the last-arrived row on ties — nondeterministic;
# we declare the full ordering instead).
_ASOF_ORDER_SPARK = ["_start_time", "_msisdn", "start_time", "ms_ip_address"]
_ASOF_ORDER_ORACLE = (
    "d.start_time DESC NULLS LAST, d.msisdn DESC NULLS LAST, "
    "s.start_time DESC NULLS LAST, s.ms_ip_address DESC NULLS LAST"
)


def _path_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = cdr_views(spark, sf_dir)
    src = extend_with_partition_cols(v["cdr_src"]).filter(F.col("imsi").isNull())
    exploded = explode_delimited(src, "ms_ip_address", out_col="ip")
    dim = explode_delimited(v["ms_ip"], "ms_ip_address", out_col="ip").select(
        F.col("start_time").alias("_start_time"),
        F.col("imsi").alias("_imsi"),
        F.col("msisdn").alias("_msisdn"),
        F.col("probe").alias("_probe"),
        F.col("ip").alias("_ip"),
    )
    candidates = theta_asof_candidates(
        exploded,
        dim,
        equi_keys=[("probe", "_probe"), ("ip", "_ip")],
        left_ts="start_time",
        right_ts="_start_time",
    )
    best = argmax_dedup(candidates, ["unique_cdr_id"], _ASOF_ORDER_SPARK)
    return select_canonical(
        coalesce_enrich(best, {"imsi": "_imsi", "msisdn": "_msisdn"}), CANONICAL
    )


_PATH_B_CTES = f"""
src_exploded AS (
  SELECT start_time, measuring_probe_name, imsi, msisdn, ms_ip_address,
         unique_cdr_id, event_date, probe, trim(ip) AS ip
  FROM (
    SELECT s.*,
           CAST(start_time AS DATE) AS event_date,
           substr(measuring_probe_name, 1, 2) AS probe,
           unnest(string_split(trim(ms_ip_address), ';')) AS ip
    FROM cdr_src s
    WHERE s.imsi IS NULL
  )
  WHERE trim(ip) <> ''
),
candidates AS (
  SELECT s.start_time, s.measuring_probe_name, s.imsi, s.msisdn,
         s.ms_ip_address, s.unique_cdr_id, s.event_date, s.probe,
         d.start_time AS _start_time, d.imsi AS _imsi, d.msisdn AS _msisdn,
         row_number() OVER (
           PARTITION BY s.unique_cdr_id
           ORDER BY {_ASOF_ORDER_ORACLE}
         ) AS rn
  FROM src_exploded s
  JOIN ms_ip_exploded d
    ON s.probe = d.probe AND s.ip = d.ip AND s.start_time >= d.start_time
)
"""

_PATH_B_BODY = """
SELECT start_time, measuring_probe_name,
       coalesce(_imsi, imsi) AS imsi,
       coalesce(_msisdn, msisdn) AS msisdn,
       ms_ip_address, unique_cdr_id, event_date, probe
FROM candidates WHERE rn = 1
"""

_PATH_B_ORACLE = (
    fixture_cte("cdr_src", "ms_ip", extra={"ms_ip_exploded": MS_IP_EXPLODED_ORACLE})
    + ",\n"
    + _PATH_B_CTES
    + _PATH_B_BODY
)


@register(
    "cdr_enrich_path_b",
    _PATH_B_ORACLE,
    doc="Path B: imsi missing → explode IPs, as-of join ms_ip on (probe, ip) "
    "with start_time >= dim.start_time, keep latest assignment per cdr id "
    "(EnrichmentApp.java:81-91, 320-340, 142-156). Spark: broadcast theta "
    "join + single-shuffle window arg-max.",
    tags=("cdr", "join", "asof", "dedup"),
)
def q_cdr_path_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _path_b(spark, sf_dir)


_FULL_ORACLE = (
    fixture_cte(
        "cdr_src",
        "imsi_msisdn",
        "ms_ip",
        extra={"ms_ip_exploded": MS_IP_EXPLODED_ORACLE},
    )
    + ",\n"
    + _PATH_B_CTES
    + _path_a_body("JOIN").rstrip()
    + "\nUNION ALL\n"
    + _PATH_B_BODY
)


@register(
    "cdr_enrichment_full",
    _FULL_ORACLE,
    doc="Flagship: full enrichment — Path A (inner lookup) UNION ALL Path B "
    "(as-of + dedup), canonical sink schema (EnrichmentApp.run(), :59-110).",
    tags=("cdr", "flagship"),
)
def q_cdr_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = _path_a(spark, sf_dir, "inner")
    b = _path_b(spark, sf_dir)
    return a.unionByName(b)


def _generated_oracle(n: int = 500, seed: int = 11) -> str:
    """DuckDB replay of sources/pyds.py `_row`: every field of row i is
    md5('{seed}|{i}|{field}') first-8-bytes big-endian — the identical
    derivation ('0x' || first 16 hex chars cast to UBIGINT), so the
    connector's output is hash-checkable even though the source IS the
    data (no parquet twin). Verified cell-exact vs the Python reader
    for all 500 rows before registration."""
    from flink_application_spark.sources.pyds import (
        PROBES,
        START_MAX_MS,
        START_MIN_MS,
    )

    probes_sql = "[" + ",".join(f"'{p}'" for p in PROBES) + "]"
    span = START_MAX_MS - START_MIN_MS

    def h(field: str) -> str:
        return (
            f"CAST(('0x' || substr(md5('{seed}|' || i || '|{field}'),1,16)) "
            "AS UBIGINT)"
        )

    return f"""
WITH g AS (SELECT unnest(generate_series(0, {n - 1})) AS i),
h AS (
  SELECT i, {h('ts')} AS h_ts, {h('probe')} AS h_probe, {h('imsi')} AS h_imsi,
         {h('msisdn')} AS h_msisdn, {h('uid')} AS h_uid,
         100000 + i % 1000 AS sub
  FROM g
)
SELECT
  make_timestamp(CAST({START_MIN_MS} + h_ts % {span} AS BIGINT) * 1000) AS start_time,
  list_extract({probes_sql}, 1 + CAST(h_probe % 15 AS INT)) || '...' AS measuring_probe_name,
  CASE WHEN CAST(h_imsi % 1000000 AS DOUBLE) / 1000000 < 0.5
       THEN 250000000000 + sub END AS imsi,
  CASE WHEN CAST(h_msisdn % 1000000 AS DOUBLE) / 1000000 < 0.1
       THEN 79000000000 + sub END AS msisdn,
  ';10.' || CAST(sub % 256 AS VARCHAR) || '.' || CAST((sub // 256) % 256 AS VARCHAR)
         || '.' || CAST(1 + i % 2 AS VARCHAR) || ';' AS ms_ip_address,
  CAST(1700000000000 + (i // 100) * 1000000 + h_uid % 1000000 AS BIGINT) AS unique_cdr_id
FROM h
"""


@register(
    "cdr_generated_sample",
    _generated_oracle(),
    doc="Pluggable generator connector: the reference's "
    "DataGeneratorSource (Generator.java:38-47) surfaced through "
    "Spark's Python DataSource registry (sources/pyds.py) — "
    "spark.read.format('cdrgen'). The rows are stateless md5-derived, "
    "so the oracle replays the exact derivation in DuckDB SQL (same "
    "'seed|i|field' keying, first-8-bytes big-endian) — a full "
    "hash-checked row instead of round 1-2's rows-only red; "
    "determinism and distribution contracts additionally pinned by "
    "tests/test_pyds.py.",
    tags=("cdr", "source"),
)
def q_cdr_generated(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_application_spark.sources import pyds

    pyds.register(spark)
    return (
        spark.read.format("cdrgen")
        .option("n", 500)
        .option("seed", 11)
        .option("numPartitions", 4)
        .load()
    )


_SCD2_BODY = """
SELECT probe, ip, imsi, msisdn,
       start_time AS valid_from,
       lead(start_time) OVER (
         PARTITION BY probe, ip ORDER BY start_time, msisdn
       ) AS valid_to,
       CAST(lead(start_time) OVER (
         PARTITION BY probe, ip ORDER BY start_time, msisdn
       ) IS NULL AS BOOLEAN) AS is_current
FROM ms_ip_exploded
"""


@register(
    "cdr_dim_validity_intervals",
    fixture_cte("ms_ip", extra={"ms_ip_exploded": MS_IP_EXPLODED_ORACLE})
    + _SCD2_BODY,
    doc="SCD2 reconstruction of the as-of dimension: each (probe, ip) "
    "assignment's validity interval [valid_from, valid_to) via lead() "
    "over start_time — the interval form of the reference's 'find the "
    "assignment already active' lookup (EnrichmentApp.java:320-340): "
    "Path B's as-of join is equivalent to an interval join against "
    "these rows. One shuffle on (probe, ip); deterministic tie-break "
    "on msisdn. is_current marks open-ended rows.",
    tags=("cdr", "scd2", "dimension"),
)
def q_cdr_dim_validity_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    v = cdr_views(spark, sf_dir)
    exploded = explode_delimited(v["ms_ip"], "ms_ip_address", out_col="ip")
    w = Window.partitionBy("probe", "ip").orderBy("start_time", "msisdn")
    nxt = F.lead("start_time").over(w)
    return exploded.select(
        "probe",
        "ip",
        "imsi",
        "msisdn",
        F.col("start_time").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )
