"""Online (mini-batch) softmax-LR training over a stream — the
"online learning" operating mode Flink ML exposes that batch-only
training lacks: each micro-batch applies `steps_per_batch` gradient
steps ON ITS OWN ROWS starting from the weights the PREVIOUS batch
committed, so the model tracks the stream without ever replaying it.

Store discipline (same as `reservoir.BottomKSample` — the
carried-state variant, not the additive one):

- weights commit per batch via `sinks.idempotent_batch_write`
  (`_batch=<id>` overwrite → replay-safe);
- reads take the LATEST committed batch STRICTLY BEFORE the current
  id, so a crash-replayed batch recomputes from the same predecessor
  weights and overwrites its own directory with the identical result;
- state is ONE C×(d+1) float64 block regardless of stream length —
  kilobytes, the hardest possible state bound.

Gradient pass (`_one_pass`): the current weights ship to executors
inside the `mapInPandas` closure (a C×(d+1) float64 block —
kilobytes); each Arrow batch emits ONE partial row carrying the
flattened gradient block, so nothing shuffles and per-step network
cost is O(partitions × C·d), batch-size-independent.

Determinism: the driver folds the partials in a sorted order (never
collect arrival order), so a single-partition batch is bit-identical
to the numpy mini-batch reference — pinned in tests/test_lr_online.py
alongside replay/crash-window contracts.
"""

from __future__ import annotations

import os
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from flink_application_spark.streaming.sinks import (
    committed_batch_dirs,
    idempotent_batch_write,
)


def _one_pass(
    df: DataFrame,
    w: np.ndarray,
    b: np.ndarray,
    *,
    vec_col: str,
    label_col: str,
) -> list:
    """One full pass: per-Arrow-batch partial rows of (flattened
    gradient of the unregularized NLL, NLL sum, row count, correct
    count) under the CURRENT weights. Gradient of softmax NLL:
    gW = (p - onehot).T @ x, gb = column sums of (p - onehot)."""
    n_classes, dim = w.shape
    # capture plain arrays (stable pickles, no accidental views)
    w_c = np.ascontiguousarray(w, dtype=np.float64)
    b_c = np.ascontiguousarray(b, dtype=np.float64)

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]],
                dtype=np.float64,
            )
            if x.shape[1] != dim:
                raise ValueError(
                    f"online LR: embedding length {x.shape[1]} != dim={dim}"
                )
            y = pdf[label_col].to_numpy(dtype=np.int64)
            z = x @ w_c.T + b_c  # (n, C)
            z -= z.max(axis=1, keepdims=True)  # stable softmax
            e = np.exp(z)
            p = e / e.sum(axis=1, keepdims=True)
            rows = np.arange(len(y))
            nll = float(-np.log(p[rows, y]).sum())
            correct = int((p.argmax(axis=1) == y).sum())
            p[rows, y] -= 1.0  # p - onehot, in place
            g_w = p.T @ x  # (C, d)
            g_b = p.sum(axis=0)  # (C,)
            yield pd.DataFrame(
                {
                    "g": [np.concatenate([g_w.ravel(), g_b]).tolist()],
                    "nll": [nll],
                    "n": [len(y)],
                    "correct": [correct],
                }
            )

    return df.mapInPandas(
        part, schema="g array<double>, nll double, n bigint, correct bigint"
    ).collect()


class OnlineLRTrainer:
    def __init__(
        self,
        store_dir: str,
        *,
        n_classes: int,
        dim: int,
        step: float = 16.0,
        l2: float = 1e-3,
        steps_per_batch: int = 1,
        vec_col: str = "embedding",
        label_col: str = "label",
    ) -> None:
        self.store_dir = store_dir
        self.n_classes = n_classes
        self.dim = dim
        self.step = step
        self.l2 = l2
        self.steps_per_batch = steps_per_batch
        self.vec_col = vec_col
        self.label_col = label_col
        self._dir = os.path.join(store_dir, "weights")

    # -- store access -------------------------------------------------

    def _batches(self) -> list[int]:
        return sorted(
            int(os.path.basename(p).split("=", 1)[1])
            for p in committed_batch_dirs(self._dir)
        )

    def _load(self, spark, batch_id: int) -> tuple[np.ndarray, np.ndarray, int]:
        """Weights committed by the latest batch STRICTLY BEFORE
        `batch_id` (zero-init if none) plus rows seen so far."""
        prior = [b for b in self._batches() if b < batch_id]
        if not prior:
            return (
                np.zeros((self.n_classes, self.dim), dtype=np.float64),
                np.zeros(self.n_classes, dtype=np.float64),
                0,
            )
        row = spark.read.parquet(
            os.path.join(self._dir, f"_batch={max(prior)}")
        ).collect()[0]
        w = np.asarray(row["w"], dtype=np.float64).reshape(self.n_classes, self.dim)
        b = np.asarray(row["b"], dtype=np.float64)
        return w, b, int(row["n_seen"])

    def weights(self, spark) -> tuple[np.ndarray, np.ndarray, int]:
        """The current model: latest committed weights + rows seen."""
        done = self._batches()
        if not done:
            raise ValueError("no committed weight batches in the store")
        return self._load(spark, max(done) + 1)

    # -- per-batch maintenance ----------------------------------------

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        w, b, n_seen = self._load(spark, batch_id)
        batch_df = batch_df.filter(
            batch_df[self.vec_col].isNotNull() & batch_df[self.label_col].isNotNull()
        ).persist()
        n_batch = 0
        for _ in range(self.steps_per_batch):
            partials = _one_pass(
                batch_df, w, b, vec_col=self.vec_col, label_col=self.label_col
            )
            if not partials:
                break  # empty micro-batch: commit carried weights as-is
            partials = sorted(
                partials, key=lambda r: (r["n"], r["nll"], tuple(r["g"][:4]))
            )
            g = np.zeros(self.n_classes * self.dim + self.n_classes, dtype=np.float64)
            n_batch = 0
            for r in partials:
                g += np.asarray(r["g"], dtype=np.float64)
                n_batch += r["n"]
            g_w = g[: self.n_classes * self.dim].reshape(self.n_classes, self.dim)
            g_b = g[self.n_classes * self.dim :]
            w = w - self.step * (g_w / n_batch + self.l2 * w)
            b = b - self.step * (g_b / n_batch)
        batch_df.unpersist()
        out = spark.createDataFrame(
            [(w.ravel().tolist(), b.tolist(), n_seen + n_batch)],
            "w array<double>, b array<double>, n_seen bigint",
        )
        idempotent_batch_write(out, self._dir, batch_id)

    def attach(self, stream_df: DataFrame, checkpoint: str):
        """Wire the trainer into a streaming query (availableNow file
        streams in tests; any micro-batch source in production)."""
        return (
            stream_df.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
