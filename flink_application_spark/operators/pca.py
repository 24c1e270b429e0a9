"""Float Gram sketch and mean of an embedding column — the shared
statistics pass under `emb_pca_gram` and the OPQ rotation
(`operators/opq.py`). The trained PCA itself is exact-integer
(`operators/pca_exact.py`).

Scale design: the only full-data pass is the **Gram accumulation**: a
``mapInPandas`` stage computes a per-Arrow-batch partial ``XᵀX`` (one
numpy matmul per batch — vectorized, no per-row Python) and emits it
in long form ``(i, j, s)`` — d·(d+1)/2 rows per batch for the upper
triangle. A ``groupBy(i, j).sum`` then combines partials map-side, so
the shuffle carries O(d²) values per partition, never row data. For
d = 64 that is 2,080 doubles per task — independent of corpus size,
which is exactly the property that makes this a 1000-executor-safe
reduction (same shape as MLlib's
``RowMatrix.computeGramianMatrix``; re-derived here from the public
algorithm, not imported, to keep the engine DataFrame-native).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DoubleType, IntegerType, LongType, StructField, StructType

_GRAM_SCHEMA = StructType(
    [
        StructField("i", IntegerType()),
        StructField("j", IntegerType()),
        StructField("s", DoubleType()),
        StructField("n", LongType()),
    ]
)


def gram_long(df: DataFrame, col: str = "embedding", dim: int = 64) -> DataFrame:
    """Upper-triangle Gram partials in long form plus per-batch row
    counts (carried on the (0, 0) entry's ``n``; other entries carry 0
    so the global ``sum(n)`` is the row count). NULL embeddings are
    excluded up front: np.asarray over a batch containing None rows is
    ragged and would crash (or worse, object-coerce) — the same
    NULL-corpus hardening rotate_embeddings/pq_encode already have."""
    df = df.filter(F.col(col).isNotNull())

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        iu = np.triu_indices(dim)
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[col]], dtype=np.float64
            )
            if x.shape[1] != dim:
                raise ValueError(
                    f"gram_long: embedding length {x.shape[1]} != dim={dim}; "
                    "a silent top-left block would corrupt the Gram"
                )
            g = x.T @ x
            n = np.zeros(len(iu[0]), dtype=np.int64)
            n[0] = x.shape[0]
            yield pd.DataFrame(
                {
                    "i": iu[0].astype(np.int32),
                    "j": iu[1].astype(np.int32),
                    "s": g[iu],
                    "n": n,
                }
            )

    return (
        df.select(col)
        .mapInPandas(part, schema=_GRAM_SCHEMA)
        .groupBy("i", "j")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
    )


def collect_gram(df: DataFrame, col: str = "embedding", dim: int = 64):
    """Run the distributed Gram pass and assemble the symmetric d×d
    numpy matrix plus the row count on the driver."""
    rows = gram_long(df, col, dim).collect()
    g = np.zeros((dim, dim))
    n = 0
    for r in rows:
        g[r["i"], r["j"]] = r["s"]
        g[r["j"], r["i"]] = r["s"]
        n += r["n"]
    return g, n


def mean_vector(df: DataFrame, col: str = "embedding", dim: int = 64) -> np.ndarray:
    """Element-wise mean via posexplode + partial agg (shuffle carries
    d partials per partition, not vectors)."""
    rows = (
        df.select(F.posexplode(col).alias("pos", "val"))
        .groupBy("pos")
        .agg(F.avg("val").alias("m"))
        .collect()
    )
    mu = np.zeros(dim)
    for r in rows:
        mu[r["pos"]] = r["m"]
    return mu
