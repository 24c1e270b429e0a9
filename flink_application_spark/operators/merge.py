"""Keyed changelog application (CDC upsert/merge — SCD Type 1).

Open-source Spark-on-parquet has no `MERGE INTO`; table formats
(Delta/Iceberg) provide it on top of the same primitive implemented
here: resolve a changelog against a snapshot with one keyed join and
rewrite. This operator is that primitive, DataFrame-native:

    snapshot ⟕ latest-change-per-key →
        D → row dropped
        U → row replaced (full-row semantics)
        I → row inserted (I on an existing key upserts — the common
             at-least-once CDC convention; strictness is the caller's
             dedup problem, not the merge's)

Changelogs carry multiple changes per key; only the LAST one (by
`seq_col`) applies — resolved with the same max_by-struct arg-max the
dedup family uses (ties break toward the higher op... no: seq ties are
a data bug; the tie-break is deterministic on (seq, op) so replays
can't flip).

Scale shape: one shuffle each side on the key (the changelog is
usually ≪ snapshot → broadcastable), then a hash join; output rewrite
is the table-format's job (pair with a dynamic-partition overwrite
to rewrite only touched partitions at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

OPS = ("I", "U", "D")


def latest_changes(
    changes: DataFrame, key_cols: list[str], seq_col: str, op_col: str = "op"
) -> DataFrame:
    """One row per key: the change with the highest (seq, op) — the
    deterministic winner under replay/out-of-order delivery."""
    payload = [c for c in changes.columns if c not in (*key_cols, seq_col, op_col)]
    winner = F.max_by(
        F.struct(F.col(op_col).alias("op"), *[F.col(c).alias(c) for c in payload]),
        F.struct(F.col(seq_col), F.col(op_col)),
    )
    out = changes.groupBy(*key_cols).agg(winner.alias("_w"))
    return out.select(*key_cols, "_w.op", *[f"_w.{c}" for c in payload])


def apply_changelog(
    snapshot: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    seq_col: str,
    op_col: str = "op",
) -> DataFrame:
    """Apply a CDC changelog to a keyed snapshot; returns the new
    snapshot with the snapshot's exact column set."""
    resolved = latest_changes(changes, key_cols, seq_col, op_col)
    payload = [c for c in snapshot.columns if c not in key_cols]

    joined = snapshot.alias("s").join(
        resolved.alias("c"), on=key_cols, how="full_outer"
    )
    op = F.col("c.op")
    keep_snapshot = op.isNull()  # no change for this key
    upsert = op.isin("I", "U") & F.col("c.op").isNotNull()

    cols = [F.col(k) for k in key_cols] + [
        F.when(keep_snapshot, F.col(f"s.{c}"))
        .when(upsert, F.col(f"c.{c}"))
        .alias(c)
        for c in payload
    ]
    survives = keep_snapshot | upsert  # D rows (and D for absent keys) drop
    # an I/U for a key absent from the snapshot must still materialize;
    # a D for an absent key is a no-op — both fall out of the same filter
    return joined.filter(survives).select(*cols)
