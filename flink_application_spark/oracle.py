"""Local oracle-differential harness mimicking the driver's gate.

Runs a registered Spark query and its DuckDB oracle SQL on the same
parquet tables and compares row count + column names + an
order-insensitive value hash (floats rounded before hashing so
summation-order ulps don't flip the verdict). Used by
tests/test_oracle_parity.py at sf0.001; the driver does the real check
at sf0.01.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import math
import os
from dataclasses import dataclass

import duckdb
from pyspark.sql import DataFrame, SparkSession

from flink_application_spark.catalog import TABLES

# Strict: queries must round float outputs at source (the driver's hash
# may not round at all); 9 decimals only forgives sub-ulp repr noise.
FLOAT_DECIMALS = 9


def _norm(v: object) -> str:
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{round(v, FLOAT_DECIMALS):.{FLOAT_DECIMALS}f}"
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat(timespec="microseconds")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def _hash_rows(columns: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


@dataclass
class CompareResult:
    name: str
    rows_spark: int
    rows_oracle: int
    cols_spark: list[str]
    cols_oracle: list[str]
    hash_spark: str
    hash_oracle: str

    @property
    def ok(self) -> bool:
        return (
            self.rows_spark == self.rows_oracle
            and sorted(self.cols_spark) == sorted(self.cols_oracle)
            and self.hash_spark == self.hash_oracle
        )


def duckdb_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def compare(
    name: str,
    spark_df: DataFrame,
    oracle_sql: str,
    con: duckdb.DuckDBPyConnection,
) -> CompareResult:
    s_rows = [tuple(r) for r in spark_df.collect()]
    s_cols = list(spark_df.columns)
    rel = con.sql(oracle_sql)
    o_cols = list(rel.columns)
    o_rows = rel.fetchall()
    return CompareResult(
        name=name,
        rows_spark=len(s_rows),
        rows_oracle=len(o_rows),
        cols_spark=s_cols,
        cols_oracle=o_cols,
        hash_spark=_hash_rows(s_cols, s_rows),
        hash_oracle=_hash_rows(o_cols, o_rows),
    )
