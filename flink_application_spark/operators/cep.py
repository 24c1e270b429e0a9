"""Complex event processing (CEP): ordered-pattern detection over
keyed event streams — the capability Flink ships as its CEP library /
SQL MATCH_RECOGNIZE, which Spark has no native equivalent for.

Semantics implemented (the common MATCH_RECOGNIZE defaults):

- a pattern is an ordered list of step predicates; a match binds one
  event per step, in event-time order, other events may lie between
  (`SKIP TO NEXT ROW` relaxed-contiguity, Flink's `followedBy`);
- optional `within`: last-step time minus first-step time must not
  exceed the horizon (Flink's `.within(Time)`);
- matching is greedy-earliest and non-overlapping per key
  (`AFTER MATCH SKIP PAST LAST ROW`): scanning forward, each event can
  extend the earliest open partial match, and a completed match
  consumes its events.

Spark-first split of labor:

- step predicates are evaluated SCAN-LOCAL as boolean columns (JVM,
  codegen) — the Python stage never sees event payloads, only
  (key, ts, k bools);
- the per-key automaton walk runs in `applyInPandas` over events
  sorted within each key group — O(n·steps) per key, Arrow-batched;
  state is one in-flight partial match (list of bound indices), the
  same O(steps) per-key state a streaming NFA would keep;
- output is one row per match: key, per-step timestamps.

At 100 TB the one shuffle is the groupBy(key); skewed keys are the
usual salting territory, and `within` bounds how long a partial match
can stay open (the state-retention knob a streaming port would hang
its watermark on).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
    TimestampNTZType,
)


def match_pattern(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    steps: list[Column],
    within_seconds: float | None = None,
    id_col: str | None = None,
    quantifiers: list[str] | None = None,
    not_between: list[Column | None] | None = None,
) -> DataFrame:
    """Detect non-overlapping earliest matches of `steps` per key.

    Returns (key, step_1_ts .. step_k_ts, step_1_id .. step_k_id);
    with `quantifiers` (each 'once' or 'oneOrMore' — Kleene plus,
    greedy) the schema additionally carries step_i_n repetition counts
    and step ts/id refer to each step's FIRST bound event. The final
    step must be 'once' (a greedy trailing plus has no stop signal).
    `not_between` (length k−1, Flink's notFollowedBy) gives per-gap
    killer predicates: such an event arriving strictly between the
    bindings of steps j and j+1 discards the partial. Using
    `not_between` implies the quantified output schema (quantifiers
    default to all-'once'). `within_seconds` bounds last-bound-ts −
    first-bound-ts. Ties on ts are broken by `id_col` (or an
    arbitrary-but-total generated id) — the sort is total either way,
    so matching is deterministic."""
    k = len(steps)
    if k == 0:
        raise ValueError("match_pattern: need at least one step")
    if not_between is not None:
        if len(not_between) != k - 1:
            raise ValueError("not_between must have one entry per step gap (k-1)")
        if quantifiers is None:
            quantifiers = ["once"] * k
    if quantifiers is not None:
        if len(quantifiers) != k:
            raise ValueError("quantifiers must match steps length")
        if any(q not in ("once", "oneOrMore") for q in quantifiers):
            raise ValueError("quantifiers are 'once' or 'oneOrMore'")
        if quantifiers[-1] == "oneOrMore":
            raise ValueError(
                "the final step must be 'once': a greedy trailing "
                "oneOrMore never knows when to stop (add a closing step)"
            )
    within_us = None if within_seconds is None else int(within_seconds * 1_000_000)

    # events without a timestamp cannot participate in a temporal
    # pattern (NaT would cast to int64-min, defeating the horizon
    # check), and a NULL key has no stream to belong to — drop both up
    # front. For float key columns also drop NaN (not NULL in Spark,
    # but NaN != NaN would fragment its run in the batch walk and
    # pandas groupby would silently discard it).
    keep = F.col(ts_col).isNotNull() & F.col(key_col).isNotNull()
    if dict(df.dtypes).get(key_col) in ("float", "double"):
        keep = keep & ~F.isnan(F.col(key_col))
    flags = df.filter(keep).select(
        F.col(key_col).alias("_key"),
        F.col(ts_col).cast("timestamp_ntz").alias("_ts"),
        *( [F.col(id_col).cast("bigint").alias("_id")] if id_col else [F.monotonically_increasing_id().alias("_id")] ),
        *[s.cast("boolean").alias(f"_s{i}") for i, s in enumerate(steps)],
        *(
            [
                (g if g is not None else F.lit(False)).cast("boolean").alias(f"_g{j}")
                for j, g in enumerate(not_between)
            ]
            if not_between is not None
            else []
        ),
    )

    # the walk closure must not capture Column objects (unpicklable) —
    # only this bool crosses into the worker
    has_guards = not_between is not None

    fields = [StructField("key", flags.schema["_key"].dataType)]
    for i in range(k):
        fields.append(StructField(f"step_{i + 1}_ts", TimestampNTZType()))
    for i in range(k):
        fields.append(StructField(f"step_{i + 1}_id", LongType()))
    if quantifiers is not None:
        for i in range(k):
            fields.append(StructField(f"step_{i + 1}_n", LongType()))
    out_schema = StructType(fields)

    out_cols = [f.name for f in out_schema.fields]

    def _walk_group(pdf: pd.DataFrame, rows: list) -> None:
        key = pdf["_key"].iloc[0]
        ts_us = (pdf["_ts"].to_numpy().astype("datetime64[us]").astype("int64")).tolist()
        ids = pdf["_id"].to_numpy().tolist()
        svals = [
            pdf[f"_s{i}"].fillna(False).to_numpy().tolist() for i in range(k)
        ]
        if quantifiers is None:
            matches, _, _ = greedy_scan(ts_us, svals, k, within_us, [], 0, len(pdf))
            for m in matches:
                row = {"key": key}
                for j, pos in enumerate(m):
                    row[f"step_{j + 1}_ts"] = pdf["_ts"].iloc[pos]
                    row[f"step_{j + 1}_id"] = int(ids[pos])
                rows.append(row)
        else:
            gvals = None
            if has_guards:
                gvals = [
                    pdf[f"_g{j}"].fillna(False).to_numpy().tolist()
                    for j in range(k - 1)
                ]
            q_matches, _, _ = greedy_scan_quant(
                ts_us, svals, quantifiers, within_us, [], 0, len(pdf), guards=gvals
            )
            for m in q_matches:
                row = {"key": key}
                for j, positions in enumerate(m):
                    row[f"step_{j + 1}_ts"] = pdf["_ts"].iloc[positions[0]]
                    row[f"step_{j + 1}_id"] = int(ids[positions[0]])
                    row[f"step_{j + 1}_n"] = len(positions)
                rows.append(row)

    def process(batches):
        # one Python invocation per ARROW BATCH, not per key:
        # applyInPandas pays its pandas/serialization setup once per
        # group, which at millions of small keys dominates runtime
        # (measured 5.7 s → 1.4 s at sf0.1's 2k keys). Rows arrive
        # key-clustered and (ts, id)-sorted via the secondary sort; a
        # key spanning Arrow batches accumulates as a CHUNK LIST and
        # concats once when it closes (concat-per-batch would be
        # O(batches²) row copies for a hot key).
        carry_chunks: list[pd.DataFrame] = []
        carry_key = None

        def _flush(rows):
            if carry_chunks:
                g = (
                    pd.concat(carry_chunks, ignore_index=True)
                    if len(carry_chunks) > 1
                    else carry_chunks[0]
                )
                _walk_group(g, rows)

        for pdf in batches:
            if pdf.empty:
                continue
            rows: list = []
            keys = pdf["_key"].to_numpy()
            start = 0
            if carry_chunks:
                cont = keys == carry_key
                if cont.all():
                    carry_chunks.append(pdf)
                    continue
                run = int((~cont).argmax())
                if run:
                    carry_chunks.append(pdf.iloc[:run])
                    start = run
                _flush(rows)
                carry_chunks, carry_key = [], None
            rest = pdf.iloc[start:] if start else pdf
            last_key = rest["_key"].iloc[-1]
            head = rest[rest["_key"] != last_key]
            for _, g in head.groupby("_key", sort=False):
                _walk_group(g, rows)
            carry_chunks = [rest[rest["_key"] == last_key]]
            carry_key = last_key
            if rows:
                yield pd.DataFrame(rows, columns=out_cols)
        rows = []
        _flush(rows)
        if rows:
            yield pd.DataFrame(rows, columns=out_cols)

    # no explicit partition count: repartition("_key") inherits
    # spark.sql.shuffle.partitions and AQE coalescing/skew handling
    clustered = flags.repartition("_key").sortWithinPartitions("_key", "_ts", "_id")
    return clustered.mapInPandas(process, schema=out_schema)


def greedy_scan(
    ts_us: list[int],
    flags: list[list[bool]],
    k: int,
    within_us: int | None,
    bound: list[int],
    start: int,
    n: int,
) -> tuple[list[list[int]], list[int], int]:
    """The shared CEP automaton core (batch and streaming run the SAME
    loop): scan positions [start, n) continuing an existing partial
    `bound`, return (completed matches, open bound, scanned=n).

    The head-expiry rewind (within-horizon violated by the candidate
    next step) re-seeks from just past the old first binding, which
    can move BEFORE `start` — callers retaining a suffix across calls
    must keep everything from bound[0] on."""
    matches: list[list[int]] = []
    i = start
    while i < n:
        step = len(bound)
        if flags[step][i]:
            if (
                within_us is not None
                and bound
                and ts_us[i] - ts_us[bound[0]] > within_us
            ):
                i = bound[0] + 1
                bound = []
                continue
            bound.append(i)
            if len(bound) == k:
                matches.append(list(bound))
                bound = []
        i += 1
    return matches, bound, n


def greedy_scan_quant(
    ts_us: list[int],
    flags: list[list[bool]],
    quants: list[str],
    within_us: int | None,
    bound: list[list[int]],
    start: int,
    n: int,
    guards: list[list[bool] | None] | None = None,
) -> tuple[list[list[list[int]]], list[list[int]], int]:
    """Quantified automaton core: each step is 'once' or 'oneOrMore'
    (Kleene plus, greedy — MATCH_RECOGNIZE `B+` / Flink CEP
    `.oneOrMore().greedy()` under relaxed contiguity), with optional
    NEGATION guards (Flink's `notFollowedBy`): `guards[j]`, when set,
    is a boolean column of "killer" events — one arriving while the
    partial waits between step j+1 and step j+2 discards the partial
    (matching re-seeks past the old head, same as horizon expiry).

    Precedence per event: extend/advance first (an event that both
    completes the pattern and matches a guard is a completion), then
    guard kill, else skip. The final step must be 'once' — a greedy
    trailing plus never knows when to stop without an `until`, so it
    is rejected at the API layer rather than silently lazy.

    Returns (matches, open bound, scanned=n) — matches as one
    position-list per step. Non-overlapping, earliest, head-expiry
    rewind — same resumable contract as `greedy_scan`: callers
    continuing across calls pass the returned `bound`/`scanned` back
    in and must retain events from `bound[0][0]` on (the rewind on
    horizon expiry or a guard kill can re-seek before `start`)."""
    k = len(quants)
    matches: list[list[list[int]]] = []
    bound = [list(b) for b in bound]
    i = start
    while i < n:
        step = len(bound)
        extend = (
            bound
            and quants[step - 1] == "oneOrMore"
            and flags[step - 1][i]
            # greedy: prefer extending even if the next step also matches
        )
        advance = step < k and flags[step][i]
        if extend or advance:
            if (
                within_us is not None
                and bound
                and ts_us[i] - ts_us[bound[0][0]] > within_us
            ):
                i = bound[0][0] + 1
                bound = []
                continue
            if extend:
                bound[step - 1].append(i)
            else:
                bound.append([i])
                if len(bound) == k:
                    matches.append([list(b) for b in bound])
                    bound = []
        elif (
            bound
            and guards is not None
            and guards[step - 1] is not None
            and guards[step - 1][i]
        ):
            # killer event between step `step` and `step+1`: discard
            # the partial and re-seek past its head
            i = bound[0][0] + 1
            bound = []
            continue
        i += 1
    return matches, bound, n
