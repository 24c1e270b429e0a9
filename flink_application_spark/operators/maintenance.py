"""Table-maintenance expressions: the Z-order (Morton) clustering key.

The reference manages file sizing at WRITE time only — its rolling
policy targets 110 MB files against a 128 MB HDFS block
(flink.conf:54-55, EnrichmentApp.java:199-201); it has no read-side
layout story. Range-partitioning a table by the Morton key of two
columns gives every output file a tight bounding box in both, so
predicates on either skip files via parquet min/max stats.
"""

from __future__ import annotations


def zvalue_expr(x, y, bits: int = 16):
    """Morton (Z-order) key: interleave the low `bits` bits of two
    non-negative integer columns (x even positions, y odd). Pure
    bitwise Catalyst expressions — stays inside whole-stage codegen,
    no UDF. 2*bits <= 63 keeps the key in a signed long.

    Multi-dimensional clustering for data skipping: range-partitioning
    by the interleaved key gives every output file a tight bounding
    box in BOTH dimensions, so point/range predicates on either column
    skip files via parquet min/max stats — the OSS-Spark analogue of
    Delta/Iceberg OPTIMIZE ZORDER BY (x, y).
    """
    from pyspark.sql import functions as F

    assert 2 * bits <= 63
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z
