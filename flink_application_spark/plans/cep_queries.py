"""CEP queries over the events table — Flink's CEP / MATCH_RECOGNIZE
capability re-expressed Spark-first.

Four registrations:

- `events_cep_signup_purchase_no_error` — a join-expressible pattern
  (per signup: the FIRST purchase within 1 hour, invalidated by any
  error strictly between), fully oracle-checked. The negation
  ("no C between A and B") is the CEP construct equi-joins handle
  with an anti-join, no automaton needed.
- `events_cep_funnel_matches` — the generic automaton
  (`operators/cep.py:match_pattern`): signup → click → purchase
  within 24 hours, non-overlapping earliest matches (MATCH_RECOGNIZE
  AFTER MATCH SKIP PAST LAST ROW).
- `events_cep_error_burst_recovery` — the quantified automaton
  (Kleene plus, greedy): error+ → purchase, emitting burst sizes.
- `events_cep_clean_checkout` — the negation automaton
  (notFollowedBy guard): signup → purchase, no error between.

All four are oracle-checked since round 7: the three automaton forms
replay as DuckDB RECURSIVE CTEs (greedy matching is iterative, but its
iteration has a closed form per cursor step — see the conversion note
above `_CEP_BASE`), with the pure-Python reference parity in
`tests/test_cep.py` still pinning the operator itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.operators.cep import match_pattern
from flink_application_spark.plans.registry import register

# --- recursive-CTE oracles for the automaton queries -------------------------
# Round-7 conversion: greedy non-overlapping matching IS SQL-expressible
# as a recursive CTE because the automaton's scan has a closed form per
# cursor position — "bind the earliest next step occurrence; on a
# horizon/guard violation re-seek from just past the head" — so one
# recursion step per (match | rewind) advances a per-user cursor, and
# every user's walk runs in parallel rows. The next-occurrence lookups
# are precomputed as window minima over the (ts, event_id)-ordered
# event positions (no correlated subqueries — each recursion step is
# plain joins against the indexed position column). Equivalences used,
# each mirroring one branch of operators/cep.greedy_scan[_quant]:
#
# - binding order: step j+1 binds the FIRST matching event strictly
#   after step j's binding (the automaton advances i after every bind);
# - horizon: the automaton checks candidate bindings only, so a match
#   emits iff EVERY bound step is within the horizon of the head, and
#   otherwise the cursor rewinds to head+1 (for the Kleene-burst form,
#   ts is monotone in position order, so "some extend/advance candidate
#   violates before completion" ⟺ "the completing purchase violates");
# - guards (notFollowedBy): a killer event strictly between the head
#   and the completing event fires first in scan order ⟺
#   next_guard(head) < completing position — completion at the same
#   event wins by branch precedence, which event-type-exclusive
#   predicates make moot;
# - termination: if a step has no occurrence after the current head it
#   has none after any later head either (next-occurrence minima are
#   monotone), so dropping the user's walk row ends it correctly.

_CEP_BASE = """
base AS (
  SELECT user_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos,
         epoch_us(ts) AS ts_us, ts, event_id, event_type
  FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
)"""

_FUNNEL_W_US = 86_400 * 1_000_000
_BURST_W_US = 86_400 * 1_000_000
_CHECKOUT_W_US = 3_600 * 1_000_000

_FUNNEL_ORACLE = f"""
WITH RECURSIVE {_CEP_BASE},
ev AS (
  SELECT *,
         min(CASE WHEN event_type = 'signup' THEN pos END) OVER w_incl AS nxt_a,
         min(CASE WHEN event_type = 'click' THEN pos END) OVER w_excl AS nxt_b,
         min(CASE WHEN event_type = 'purchase' THEN pos END) OVER w_excl AS nxt_c
  FROM base
  WINDOW w_incl AS (PARTITION BY user_id ORDER BY pos
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING),
         w_excl AS (PARTITION BY user_id ORDER BY pos
                    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
),
walk AS (
  SELECT user_id, CAST(1 AS BIGINT) AS cursor, FALSE AS emit,
         CAST(NULL AS TIMESTAMP) AS s1_ts, CAST(NULL AS TIMESTAMP) AS s2_ts,
         CAST(NULL AS TIMESTAMP) AS s3_ts, CAST(NULL AS BIGINT) AS s1_id,
         CAST(NULL AS BIGINT) AS s2_id, CAST(NULL AS BIGINT) AS s3_id
  FROM (SELECT DISTINCT user_id FROM ev)
  UNION ALL
  SELECT w.user_id,
         CASE WHEN b.ts_us - a.ts_us <= {_FUNNEL_W_US}
                   AND c.ts_us - a.ts_us <= {_FUNNEL_W_US}
              THEN c.pos + 1 ELSE a.pos + 1 END,
         b.ts_us - a.ts_us <= {_FUNNEL_W_US}
           AND c.ts_us - a.ts_us <= {_FUNNEL_W_US},
         a.ts, b.ts, c.ts, a.event_id, b.event_id, c.event_id
  FROM walk w
  JOIN ev cur ON cur.user_id = w.user_id AND cur.pos = w.cursor
  JOIN ev a ON a.user_id = w.user_id AND a.pos = cur.nxt_a
  JOIN ev b ON b.user_id = w.user_id AND b.pos = a.nxt_b
  JOIN ev c ON c.user_id = w.user_id AND c.pos = b.nxt_c
)
SELECT user_id, s1_ts AS step_1_ts, s2_ts AS step_2_ts, s3_ts AS step_3_ts,
       s1_id AS step_1_id, s2_id AS step_2_id, s3_id AS step_3_id
FROM walk WHERE emit
"""

_BURST_ORACLE = f"""
WITH RECURSIVE {_CEP_BASE},
ev AS (
  SELECT *,
         min(CASE WHEN event_type = 'error' THEN pos END) OVER w_incl AS nxt_e,
         min(CASE WHEN event_type = 'purchase' THEN pos END) OVER w_excl AS nxt_p,
         count(CASE WHEN event_type = 'error' THEN 1 END) OVER w_cum AS cum_e
  FROM base
  WINDOW w_incl AS (PARTITION BY user_id ORDER BY pos
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING),
         w_excl AS (PARTITION BY user_id ORDER BY pos
                    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING),
         w_cum AS (PARTITION BY user_id ORDER BY pos
                   ROWS UNBOUNDED PRECEDING)
),
walk AS (
  SELECT user_id, CAST(1 AS BIGINT) AS cursor, FALSE AS emit,
         CAST(NULL AS TIMESTAMP) AS s1_ts, CAST(NULL AS TIMESTAMP) AS s2_ts,
         CAST(NULL AS BIGINT) AS s1_id, CAST(NULL AS BIGINT) AS s2_id,
         CAST(NULL AS BIGINT) AS s1_n
  FROM (SELECT DISTINCT user_id FROM ev)
  UNION ALL
  SELECT w.user_id,
         CASE WHEN p.ts_us - e0.ts_us <= {_BURST_W_US}
              THEN p.pos + 1 ELSE e0.pos + 1 END,
         p.ts_us - e0.ts_us <= {_BURST_W_US},
         e0.ts, p.ts, e0.event_id, p.event_id,
         p.cum_e - e0.cum_e + 1
  FROM walk w
  JOIN ev cur ON cur.user_id = w.user_id AND cur.pos = w.cursor
  JOIN ev e0 ON e0.user_id = w.user_id AND e0.pos = cur.nxt_e
  JOIN ev p ON p.user_id = w.user_id AND p.pos = e0.nxt_p
)
SELECT user_id, s1_ts AS step_1_ts, s2_ts AS step_2_ts,
       s1_id AS step_1_id, s2_id AS step_2_id,
       s1_n AS step_1_n, CAST(1 AS BIGINT) AS step_2_n
FROM walk WHERE emit
"""

_CHECKOUT_ORACLE = f"""
WITH RECURSIVE {_CEP_BASE},
ev AS (
  SELECT *,
         min(CASE WHEN event_type = 'signup' THEN pos END) OVER w_incl AS nxt_s,
         min(CASE WHEN event_type = 'purchase' THEN pos END) OVER w_excl AS nxt_p,
         min(CASE WHEN event_type = 'error' THEN pos END) OVER w_excl AS nxt_g
  FROM base
  WINDOW w_incl AS (PARTITION BY user_id ORDER BY pos
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING),
         w_excl AS (PARTITION BY user_id ORDER BY pos
                    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
),
walk AS (
  SELECT user_id, CAST(1 AS BIGINT) AS cursor, FALSE AS emit,
         CAST(NULL AS TIMESTAMP) AS s1_ts, CAST(NULL AS TIMESTAMP) AS s2_ts,
         CAST(NULL AS BIGINT) AS s1_id, CAST(NULL AS BIGINT) AS s2_id
  FROM (SELECT DISTINCT user_id FROM ev)
  UNION ALL
  SELECT w.user_id,
         CASE WHEN NOT (s0.nxt_g IS NOT NULL AND s0.nxt_g < p.pos)
                   AND p.ts_us - s0.ts_us <= {_CHECKOUT_W_US}
              THEN p.pos + 1 ELSE s0.pos + 1 END,
         NOT (s0.nxt_g IS NOT NULL AND s0.nxt_g < p.pos)
           AND p.ts_us - s0.ts_us <= {_CHECKOUT_W_US},
         s0.ts, p.ts, s0.event_id, p.event_id
  FROM walk w
  JOIN ev cur ON cur.user_id = w.user_id AND cur.pos = w.cursor
  JOIN ev s0 ON s0.user_id = w.user_id AND s0.pos = cur.nxt_s
  JOIN ev p ON p.user_id = w.user_id AND p.pos = s0.nxt_p
)
SELECT user_id, s1_ts AS step_1_ts, s2_ts AS step_2_ts,
       s1_id AS step_1_id, s2_id AS step_2_id,
       CAST(1 AS BIGINT) AS step_1_n, CAST(1 AS BIGINT) AS step_2_n
FROM walk WHERE emit
"""


@register(
    "events_cep_signup_purchase_no_error",
    """
WITH s AS (
  SELECT user_id, ts AS signup_ts, event_id AS signup_id
  FROM events WHERE event_type = 'signup'
),
p AS (
  SELECT user_id, ts AS purchase_ts, event_id AS purchase_id
  FROM events WHERE event_type = 'purchase'
),
firstp AS (
  SELECT s.user_id AS user_id, s.signup_id AS signup_id,
         s.signup_ts AS signup_ts,
         min(p.purchase_ts) AS purchase_ts
  FROM s JOIN p
    ON p.user_id = s.user_id
   AND p.purchase_ts > s.signup_ts
   AND p.purchase_ts <= s.signup_ts + INTERVAL 1 HOUR
  GROUP BY s.user_id, s.signup_id, s.signup_ts
)
SELECT f.user_id AS user_id, f.signup_id AS signup_id,
       f.signup_ts AS signup_ts, f.purchase_ts AS purchase_ts
FROM firstp f
WHERE NOT EXISTS (
  SELECT 1 FROM events e
  WHERE e.user_id = f.user_id AND e.event_type = 'error'
    AND e.ts > f.signup_ts AND e.ts < f.purchase_ts
)
""",
    doc="Join-expressible CEP pattern: per signup the FIRST purchase "
    "within 1 hour, suppressed when any error falls strictly between — "
    "equi+range join, min-aggregate, interval anti-join. The standard "
    "'A followed by B with no C between' shape without an automaton.",
    tags=("events", "cep"),
)
def q_signup_purchase_no_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("ts").alias("signup_ts"),
        F.col("event_id").alias("signup_id"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("purchase_ts")
    )
    firstp = (
        s.join(
            p,
            (F.col("p_user") == F.col("user_id"))
            & (F.col("purchase_ts") > F.col("signup_ts"))
            & (F.col("purchase_ts") <= F.col("signup_ts") + F.expr("INTERVAL 1 HOUR")),
        )
        .groupBy("user_id", "signup_id", "signup_ts")
        .agg(F.min("purchase_ts").alias("purchase_ts"))
    )
    err = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_user"), F.col("ts").alias("e_ts")
    )
    bad = (
        firstp.join(
            err,
            (F.col("e_user") == F.col("user_id"))
            & (F.col("e_ts") > F.col("signup_ts"))
            & (F.col("e_ts") < F.col("purchase_ts")),
            "left_semi",
        )
    )
    return firstp.join(
        bad, ["user_id", "signup_id", "signup_ts", "purchase_ts"], "left_anti"
    ).select("user_id", "signup_id", "signup_ts", "purchase_ts")


@register(
    "events_cep_funnel_matches",
    _FUNNEL_ORACLE,
    doc="Generic CEP automaton: signup → click → purchase per user "
    "within 24 hours, earliest non-overlapping matches (AFTER MATCH "
    "SKIP PAST LAST ROW). Predicates evaluate scan-local as boolean "
    "columns; the per-key walk is an Arrow-batched applyInPandas with "
    "O(steps) state — the batch form of Flink's CEP NFA. Oracle-EXACT "
    "since round 7: the greedy walk unrolls as a recursive CTE over "
    "precomputed next-occurrence positions (one recursion step per "
    "match-or-rewind; see the module's conversion note). Python-"
    "reference parity stays pinned in tests/test_cep.py.",
    tags=("events", "cep"),
)
def q_cep_funnel_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    out = match_pattern(
        ev,
        key_col="user_id",
        ts_col="ts",
        steps=[
            F.col("event_type") == "signup",
            F.col("event_type") == "click",
            F.col("event_type") == "purchase",
        ],
        within_seconds=86400,
        id_col="event_id",
    )
    return out.withColumnRenamed("key", "user_id")


@register(
    "events_cep_error_burst_recovery",
    _BURST_ORACLE,
    doc="Quantified CEP (Kleene plus): one-or-more errors (greedy — "
    "the whole burst absorbed into one match) followed by a purchase "
    "within 24 hours, per user, non-overlapping. Emits the burst size "
    "(step_1_n) — the 'how many failures before recovery' signal. "
    "Semantics pinned by tests/test_cep_quantifiers.py and the "
    "hypothesis contracts in tests/test_cep_property.py.",
    tags=("events", "cep"),
)
def q_cep_error_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    out = match_pattern(
        ev,
        key_col="user_id",
        ts_col="ts",
        steps=[
            F.col("event_type") == "error",
            F.col("event_type") == "purchase",
        ],
        within_seconds=86400,
        id_col="event_id",
        quantifiers=["oneOrMore", "once"],
    )
    return out.withColumnRenamed("key", "user_id")


@register(
    "events_cep_clean_checkout",
    _CHECKOUT_ORACLE,
    doc="Negation CEP (notFollowedBy): signup → purchase within 1 hour "
    "with NO error strictly between the bindings — the automaton form "
    "of the join-expressible events_cep_signup_purchase_no_error "
    "(which stays the oracle-checked variant; this one is CONSUMING "
    "and non-overlapping, so a purchase satisfies at most one signup). "
    "Guard semantics pinned in tests/test_cep_quantifiers.py.",
    tags=("events", "cep"),
)
def q_cep_clean_checkout(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    out = match_pattern(
        ev,
        key_col="user_id",
        ts_col="ts",
        steps=[
            F.col("event_type") == "signup",
            F.col("event_type") == "purchase",
        ],
        within_seconds=3600,
        id_col="event_id",
        not_between=[F.col("event_type") == "error"],
    )
    return out.withColumnRenamed("key", "user_id")
