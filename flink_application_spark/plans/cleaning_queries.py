"""Corpus-cleaning and time-series repair queries.

Four operator families a production training-data / analytics pipeline
needs that the rest of the registry doesn't yet cover:

- PII detection + redaction (regex, scan-local — the standard
  pre-release scrub step for web corpora);
- token-boundary blocklist filtering (badword filtering without the
  substring false-positive problem);
- calendar gap-fill with forward-fill (date spine + last-non-null
  carry — time-series repair for downstream models);
- time-weighted average (value held until the next observation,
  weighted by holding duration — the correct mean for irregularly
  sampled series).

All are pure Catalyst expressions — no Python in the hot path. The
regexes are written to the common subset of Java regex (Spark) and
RE2 (DuckDB): no backreferences, no lookaround.

Reference parity note: the reference pipeline's only string hygiene is
TRIM + ``<> ''`` (EnrichmentApp.java:229-231); these queries extend the
same scan-local-scrub idea to the corpus-cleaning operators the north
star asks for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.plans.registry import register


# --------------------------------------------------------------------------
# PII redaction
# --------------------------------------------------------------------------

# Common Java-regex / RE2 subset; no lookaround, no backreferences.
EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
PHONE_RE = r"\+[0-9]{2} [0-9]{3}-[0-9]{4}"

# The synthetic `documents.text` is PII-free word soup, so the query
# first plants one deterministic email + phone per doc (derived from
# doc_id), then runs the actual operator: count matches, redact, and
# fingerprint the scrubbed text. Both engines plant identically, so
# the oracle checks the *redaction*, not the planting.
_PII_TEXT_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) "
    "|| '@mail.example.com or +' "
    "|| lpad(CAST(10 + doc_id % 90 AS VARCHAR), 2, '0') || ' ' "
    "|| lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' "
    "|| lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
)


@register(
    "doc_pii_redaction",
    f"""
WITH planted AS (
  SELECT doc_id, {_PII_TEXT_SQL} AS text FROM documents
),
scrubbed AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '{EMAIL_RE}')) AS n_emails,
         len(regexp_extract_all(text, '{PHONE_RE}')) AS n_phones,
         regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                        '{PHONE_RE}', '<PHONE>', 'g') AS redacted
  FROM planted
)
SELECT doc_id, n_emails, n_phones,
       length(redacted) AS redacted_len,
       md5(redacted) AS redacted_md5
FROM scrubbed
""",
    doc="PII scrub: detect + redact emails and phone numbers with "
    "shared Java/RE2 regexes. Scan-local (no shuffle at all — the "
    "plan is a single projected scan); at 100 TB this runs at IO "
    "speed. md5 of the redacted text proves byte-identical scrubbing "
    "across engines.",
    tags=("text", "cleaning", "documents"),
)
def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    planted = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or +"),
        F.lpad((F.lit(10) + F.col("doc_id") % 90).cast("string"), 2, "0"),
        F.lit(" "),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(planted, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return docs.select(
        "doc_id",
        F.regexp_count(planted, F.lit(EMAIL_RE)).alias("n_emails"),
        F.regexp_count(planted, F.lit(PHONE_RE)).alias("n_phones"),
        F.length(redacted).alias("redacted_len"),
        F.md5(redacted).alias("redacted_md5"),
    )


# --------------------------------------------------------------------------
# Token-boundary blocklist filter
# --------------------------------------------------------------------------

BLOCKLIST = ["dup", "error", "drop"]


@register(
    "doc_blocklist_filter",
    f"""
WITH toks AS (
  SELECT doc_id, lang,
         regexp_split_to_array(lower(trim(text)), '\\s+') AS t
  FROM documents
)
SELECT doc_id, lang,
       len(t) AS n_tokens,
       len(list_filter(t, x -> x IN ({", ".join("'" + w + "'" for w in BLOCKLIST)})))
           AS n_blocked,
       round(len(list_filter(t, x -> x IN ({", ".join("'" + w + "'" for w in BLOCKLIST)})))
             * 1.0 / len(t), 6) AS blocked_frac,
       CAST(len(list_filter(t, x -> x IN ({", ".join("'" + w + "'" for w in BLOCKLIST)}))) = 0
            AS BOOLEAN) AS is_clean
FROM toks
""",
    doc="Blocklist filtering on token boundaries (array membership, "
    "not substring LIKE — 'dup' must not flag 'dedupe'). Scan-local "
    "HOF filter over the token array; zero shuffle. The is_clean flag "
    "is the keep-predicate a cleaning pipeline would push into the "
    "scan.",
    tags=("text", "cleaning", "documents"),
)
def q_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    blocked = F.filter(toks, lambda x: x.isin(BLOCKLIST))
    return docs.select(
        "doc_id",
        "lang",
        F.size(toks).alias("n_tokens"),
        F.size(blocked).alias("n_blocked"),
        F.round(F.size(blocked) / F.size(toks), 6).alias("blocked_frac"),
        (F.size(blocked) == 0).alias("is_clean"),
    )


# --------------------------------------------------------------------------
# Calendar gap-fill + forward fill
# --------------------------------------------------------------------------


@register(
    "orders_daily_gapfill",
    """
WITH bounds AS (
  SELECT CAST(min(o_orderdate) AS DATE) AS d0,
         CAST(max(o_orderdate) AS DATE) AS d1
  FROM orders
),
spine AS (
  SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
  FROM bounds
),
daily AS (
  -- The daily mean is kept in integer fixed-point (1e-4 currency
  -- units): cents-rounding the sum collapses the engines' different
  -- summation orders, and integer division is exact — a float mean
  -- lands on .xxxx5 half-boundaries that round differently per engine.
  SELECT CAST(o_orderdate AS DATE) AS day,
         count(*) AS n,
         round(sum(o_totalprice), 2) AS revenue,
         (CAST(round(sum(o_totalprice) * 100) AS BIGINT) * 100) // count(*)
             AS avg_price_e4
  FROM orders GROUP BY 1
)
SELECT s.day,
       coalesce(d.n, 0) AS n_orders,
       coalesce(d.revenue, 0.0) AS revenue,
       last_value(d.avg_price_e4 IGNORE NULLS) OVER (
         ORDER BY s.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS ffill_avg_price_e4
FROM spine s LEFT JOIN daily d USING (day)
""",
    doc="Time-series repair: dense date spine (sequence/generate_series "
    "between the observed bounds), zero-fill counts, forward-fill the "
    "last observed daily average (last IGNORE NULLS). The spine is "
    "calendar-bounded (~2.4k rows regardless of fact size) so the "
    "single-partition ordered window is safe at any scale; the daily "
    "pre-aggregate is the only shuffle over the fact table.",
    tags=("sql", "timeseries", "orders"),
)
def q_daily_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("d0"),
        F.max(F.col("o_orderdate").cast("date")).alias("d1"),
    )
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("interval 1 day"))).alias("day")
    )
    daily = (
        orders.groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.round(F.sum("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
        )
        .select(
            "day", "n", "revenue", F.expr("(cents * 100) div n").alias("avg_price_e4")
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        spine.join(daily, "day", "left")
        .select(
            "day",
            F.coalesce("n", F.lit(0)).alias("n_orders"),
            F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
            F.last("avg_price_e4", ignorenulls=True)
            .over(w)
            .alias("ffill_avg_price_e4"),
        )
    )


# --------------------------------------------------------------------------
# Time-weighted average
# --------------------------------------------------------------------------


@register(
    "events_time_weighted_avg",
    """
WITH seq AS (
  SELECT user_id, value, epoch_us(ts) AS t,
         lead(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS t_next
  FROM events
)
SELECT user_id,
       count(*) AS n_intervals,
       round(sum(value * (t_next - t)) / sum(t_next - t), 4) AS twa_value,
       round(avg(value), 4) AS naive_avg
FROM seq
WHERE t_next IS NOT NULL
GROUP BY user_id
""",
    doc="Time-weighted average per user: each value is held until the "
    "next observation and weighted by the holding duration (µs-exact "
    "integer arithmetic), the correct mean for irregular sampling — "
    "shown against the naive row mean. One shuffle on user_id shared "
    "by the lead() window and the aggregate (Catalyst reuses the "
    "partitioning, no second exchange). Tie-break on (ts, event_id) "
    "makes lead() deterministic.",
    tags=("sql", "timeseries", "events"),
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    seq = events.select(
        "user_id",
        "value",
        us.alias("t"),
        F.lead(us).over(w).alias("t_next"),
    ).filter(F.col("t_next").isNotNull())
    dt = F.col("t_next") - F.col("t")
    return seq.groupBy("user_id").agg(
        F.count("*").alias("n_intervals"),
        F.round(F.sum(F.col("value") * dt) / F.sum(dt), 4).alias("twa_value"),
        F.round(F.avg("value"), 4).alias("naive_avg"),
    )


# --------------------------------------------------------------------------
# Z-order (Morton) clustering key
# --------------------------------------------------------------------------

_ZBITS = 8


def _z_sql(xe: str, ye: str, bits: int) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"((({xe} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({ye} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


@register(
    "events_zorder_key",
    f"""
SELECT event_id,
       (user_id & 255) AS zx,
       (CAST(floor(value) AS BIGINT) & 255) AS zy,
       {_z_sql("(user_id & 255)", "(CAST(floor(value) AS BIGINT) & 255)", _ZBITS)}
           AS zvalue
FROM events
""",
    doc="Morton (Z-order) interleaving key over two event dimensions — "
    "the key to range-partition a table by so each file bounds BOTH "
    "dimensions. Pure bitwise Catalyst expressions (16 shift/mask "
    "terms at 8 bits), scan-local, bit-exact across engines; "
    "tests/test_maintenance.py pins the key's bijection and its "
    "monotonicity along each axis.",
    tags=("maintenance", "clustering", "events"),
)
def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_application_spark.operators.maintenance import zvalue_expr

    events = table(spark, sf_dir, "events")
    x = F.col("user_id").bitwiseAND(F.lit(255))
    y = F.floor("value").cast("long").bitwiseAND(F.lit(255))
    return events.select(
        "event_id",
        x.alias("zx"),
        y.alias("zy"),
        zvalue_expr(x, y, _ZBITS).alias("zvalue"),
    )


# --------------------------------------------------------------------------
# Luhn-validated credit-card detection (checksum PII)
# --------------------------------------------------------------------------

def _luhn_sum_sql(col: str, n: int = 16) -> str:
    """Unrolled Luhn sum over a fixed-width digit string — the SAME
    generated SQL runs under Spark (F.expr) and DuckDB, so checksum
    parity is by construction. Digit j (1-based from the left) sits at
    position n-j+1 from the right; even right-positions double (minus
    9 when the doubled digit exceeds 9)."""
    terms = []
    for j in range(1, n + 1):
        d = f"CAST(substr({col}, {j}, 1) AS INT)"
        if (n - j + 1) % 2 == 0:
            terms.append(f"(CASE WHEN 2*{d} > 9 THEN 2*{d} - 9 ELSE 2*{d} END)")
        else:
            terms.append(d)
    return "(" + " + ".join(terms) + ")"


# Plant-time sum over the 15 base digits: in the final 16-digit string
# (base15 || check) digit j of base15 sits at right-position 17-j, so
# the doubling parity is shifted by one vs a standalone 15-digit sum —
# built explicitly rather than via _luhn_sum_sql.
_LUHN15 = "(" + " + ".join(
    (
        f"(CASE WHEN 2*CAST(substr(base15, {j}, 1) AS INT) > 9 "
        f"THEN 2*CAST(substr(base15, {j}, 1) AS INT) - 9 "
        f"ELSE 2*CAST(substr(base15, {j}, 1) AS INT) END)"
        if (17 - j) % 2 == 0
        else f"CAST(substr(base15, {j}, 1) AS INT)"
    )
    for j in range(1, 16)
) + ")"
_LUHN16_C = _luhn_sum_sql("c", 16)


@register(
    "doc_pii_luhn_cards",
    f"""
WITH seeded AS (
  SELECT doc_id, text,
         lpad(CAST(400000000000000 + (doc_id * 37) % 100000000000 AS VARCHAR),
              15, '0') AS base15
  FROM documents
),
planted AS (
  SELECT doc_id,
         CAST((10 - {_LUHN15} % 10) % 10 AS BIGINT) AS check_digit,
         text || ' card ' || base15
              || CAST((10 - {_LUHN15} % 10) % 10 AS VARCHAR)
              || ' ref ' || base15
              || CAST((10 - {_LUHN15} % 10 + 5) % 10 AS VARCHAR) AS text
  FROM seeded
)
SELECT doc_id, check_digit,
       CAST(len(regexp_extract_all(text, '[0-9]{{16}}')) AS BIGINT)
         AS n_candidates,
       CAST(len(list_filter(regexp_extract_all(text, '[0-9]{{16}}'),
                            c -> {_LUHN16_C} % 10 = 0)) AS BIGINT)
         AS n_luhn_valid
FROM planted
""",
    doc="Checksum-verified credit-card detection: a 16-digit regex "
    "alone over-redacts (order ids, timestamps); real scrubbers "
    "validate the Luhn checksum first. Each doc gets one valid and "
    "one corrupted (check+5) planted number derived from doc_id — the "
    "validator must accept exactly the valid one. The unrolled Luhn "
    "sum is ONE generated SQL string evaluated by both engines "
    "(Spark F.expr / DuckDB), so checksum parity is structural. "
    "Scan-local: zero shuffles, IO-speed at 100 TB.",
    tags=("text", "cleaning", "pii", "documents"),
)
def q_pii_luhn_cards(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    seeded = docs.withColumn(
        "base15",
        F.lpad(
            (F.lit(400000000000000) + (F.col("doc_id") * 37) % 100000000000)
            .cast("string"),
            15,
            "0",
        ),
    )
    luhn15 = F.expr(_LUHN15)
    check = (10 - luhn15 % 10) % 10
    bad_check = (10 - luhn15 % 10 + 5) % 10
    planted = seeded.select(
        "doc_id",
        check.cast("bigint").alias("check_digit"),
        F.concat(
            F.col("text"),
            F.lit(" card "),
            F.col("base15"),
            check.cast("string"),
            F.lit(" ref "),
            F.col("base15"),
            bad_check.cast("string"),
        ).alias("text"),
    )
    # the shared Luhn SQL runs verbatim inside Spark SQL's HOF lambda
    return planted.selectExpr(
        "doc_id",
        "check_digit",
        "CAST(size(regexp_extract_all(text, '[0-9]{16}', 0)) AS BIGINT)"
        " AS n_candidates",
        "CAST(size(filter(regexp_extract_all(text, '[0-9]{16}', 0),"
        f" c -> {_LUHN16_C} % 10 = 0)) AS BIGINT) AS n_luhn_valid",
    )
