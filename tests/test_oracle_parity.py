"""Driver-gate mimic: every registered query with an oracle must
hash-match DuckDB at sf0.001 (the driver runs the same comparison at
sf0.01)."""

from __future__ import annotations

import pytest

from flink_application_spark.oracle import compare, duckdb_connect
from flink_application_spark.plans.registry import REGISTRY, _load_all

_load_all()
_ORACLE_NAMES = [n for n, s in REGISTRY.items() if s.oracle is not None]


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_connect(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", _ORACLE_NAMES)
def test_oracle_parity(name, spark, sf_dir, con):
    spec = REGISTRY[name]
    r = compare(name, spec.spark(spark, sf_dir), spec.oracle, con)
    assert r.rows_spark == r.rows_oracle, (r.rows_spark, r.rows_oracle)
    assert sorted(r.cols_spark) == sorted(r.cols_oracle), (r.cols_spark, r.cols_oracle)
    assert r.hash_spark == r.hash_oracle


def test_no_hugeint_oracle_columns(con):
    """The driver's value hash is type-sensitive: DuckDB sum()/list_sum()
    over integers yields HUGEINT, which hash-mismatches Spark's bigint
    even when every value is identical (round-1 verdict: 6 such fails).
    Every sum-derived oracle column must CAST(... AS BIGINT)."""
    offenders = []
    for name, spec in REGISTRY.items():
        if spec.oracle is None:
            continue
        rel = con.sql(spec.oracle)
        for c, t in zip(rel.columns, rel.types):
            if "HUGEINT" in str(t):
                offenders.append((name, c))
    assert not offenders, offenders


@pytest.mark.slow  # builds all ~250 queries; driver-side training
# loops (BPE/Lloyd's/NN-Descent) run during construction — ~2 min of
# wall for a schema-only sweep (round-9 tier rebalance, verdict item 8)
def test_no_complex_typed_query_outputs(spark, sf_dir):
    """The DRIVER's canonicalization (pandas sort_values over all
    columns) cannot hash array/map/struct cells — round 2's red row
    (`doc_hashing_trick_embedding`, array<double>) AND round 5's
    (`agg_approx_sketches`, array<double> price_quantiles) both died
    on `TypeError: unhashable type: 'list'`. The driver canonicalizes
    EVERY registered query's output — rows-only entries included — so
    the ban covers the whole registry, not just oracle-bearing
    queries (the r05 gap). Serialize vectors to strings, explode to
    rows, or project array elements to scalar columns."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    offenders = []
    for name, spec in REGISTRY.items():
        df = spec.spark(spark, sf_dir)
        for f in df.schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType, StructType)):
                offenders.append((name, f.name, f.dataType.simpleString()))
    assert not offenders, offenders


@pytest.mark.slow  # registry-wide execution sweep (round-9 tier
# rebalance; the driver emulation covers the same surface per round)
def test_rows_only_queries_run(spark, sf_dir):
    """Queries without an oracle still must run and return a schema."""
    for name, spec in REGISTRY.items():
        if spec.oracle is None:
            df = spec.spark(spark, sf_dir)
            assert df.columns
            df.limit(5).collect()


# Registered queries without an oracle hash. The set may only shrink:
# a new rows-only query must be added here deliberately (and justify
# why no oracle can replay it); converting one to an oracle removes it.
ROWS_ONLY = {
    "agg_approx_sketches",
    "doc_compression_ratio",
    "emb_opq_pq_compare",
}


def test_rows_only_allowlist():
    rows_only = {n for n, s in REGISTRY.items() if s.oracle is None}
    assert rows_only == ROWS_ONLY
