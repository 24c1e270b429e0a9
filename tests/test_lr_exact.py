"""Exact-integer ridge-classifier training (`operators/lr_exact.py`):
the whole trajectory must be bit-deterministic under any partitioning,
match an independent exact-arithmetic Python reference, descend
monotonically, and guard the empty-input case. Oracle parity (Spark ==
DuckDB value hash at sf0.001) is covered for all three registered
queries by tests/test_oracle_parity.py; these tests break the
two-engine circularity with a third implementation."""

from __future__ import annotations

import numpy as np
import pytest

from flink_application_spark.operators.lr_exact import lr_fit_exact

_SF = "/root/testdata/sf0.001"
_C, _D, _ITERS = 10, 64, 8
_STEP, _L2 = 1.5, 0.001


def _emb(spark):
    from flink_application_spark.catalog import table

    return table(spark, _SF, "embeddings")


def _round_half_away(x: np.ndarray) -> np.ndarray:
    # engine round() semantics (Spark HALF_UP / DuckDB away-from-zero),
    # NOT numpy's banker's rounding
    return np.sign(x) * np.floor(np.abs(x) + 0.5)


def _reference_fit(x_real: np.ndarray, y: np.ndarray, iters: int):
    """Independent replay of the recipe in numpy: ppm quantize, exact
    integer logits/residual/gradient (int64 — magnitudes are ~1e15,
    well inside), one float64 division + half-away round per update.
    The residual downscale uses EXACT integer half-away division — the
    docstring of lr_exact proves this equals the engines' double
    round(R/1e6) for |R| ≤ 2^53."""
    x = np.round(x_real * 1e6)  # fixture coords have no .5μ knife edges
    x = np.hstack([x, np.full((len(x), 1), 1e6)])
    n = len(y)
    w = np.zeros((_C, _D + 1))
    prof = []
    for t in range(1, iters + 1):
        s = x @ w.T  # exact ints in float64 (≤ ~6e13 ≪ 2^53)
        r = s - (np.arange(_C)[None, :] == y[:, None]) * 1e12
        # exact integer half-away-from-zero division by 1e6
        ri = r.astype(np.int64)
        rq = np.where(ri >= 0, (ri + 500_000) // 1_000_000,
                      -((-ri + 500_000) // 1_000_000)).astype(np.float64)
        pred = s.argmax(axis=1)  # ties → lowest class, same as argmin sort
        correct = int((pred == y).sum())
        lrow = (rq * rq).sum(axis=1)
        loss_mu = int(_round_half_away(lrow / 1000.0).sum())
        g = rq.T @ x
        w = _round_half_away(w - _STEP * (g / (n * 1e6) + _L2 * w))
        prof.append((t, loss_mu, correct, int(np.abs(w).sum())))
    return w, prof


def test_matches_exact_python_reference(spark):
    emb = _emb(spark)
    rows = (
        emb.filter("embedding IS NOT NULL AND label IS NOT NULL")
        .select("vec_id", "embedding", "label")
        .orderBy("vec_id")
        .collect()
    )
    x = np.asarray([r["embedding"] for r in rows], dtype=np.float64)
    y = np.asarray([r["label"] for r in rows], dtype=np.int64)
    rw, rprof = _reference_fit(x, y, _ITERS)
    w, prof = lr_fit_exact(emb, k_classes=_C, iters=_ITERS)
    assert prof == rprof
    assert np.array_equal(np.asarray(w, dtype=np.float64), rw)


def test_bit_deterministic_under_repartitioning(spark):
    emb = _emb(spark)
    w1, p1 = lr_fit_exact(emb.coalesce(1), k_classes=_C, iters=4)
    w32, p32 = lr_fit_exact(emb.repartition(32), k_classes=_C, iters=4)
    assert p1 == p32  # exact equality — not tolerance
    assert w1 == w32


def test_loss_descends_and_learns(spark):
    _, prof = lr_fit_exact(_emb(spark), k_classes=_C, iters=_ITERS)
    losses = [l for _, l, _, _ in prof]
    corrects = [c for _, _, c, _ in prof]
    assert all(a > b for a, b in zip(losses, losses[1:]))  # strict descent
    assert corrects[-1] > corrects[0]  # accuracy off the zero-init baseline


def test_zero_init_baseline_loss(spark):
    emb = _emb(spark)
    n = emb.filter("embedding IS NOT NULL AND label IS NOT NULL").count()
    _, prof = lr_fit_exact(emb, k_classes=_C, iters=1)
    assert prof[0][1] == n * 1_000_000_000  # n · round(1e12/1e3)


def test_empty_input_returns_empty_profile(spark):
    empty = spark.createDataFrame(
        [], "vec_id bigint, embedding array<float>, label int"
    )
    w, prof = lr_fit_exact(empty, k_classes=_C, iters=3)
    assert w == [] and prof == []


def test_registered_profile_query_schema(spark):
    from flink_application_spark.plans.registry import REGISTRY_GET

    df = REGISTRY_GET("emb_lr_train_exact_profile").spark(spark, _SF)
    assert df.columns == ["iteration", "loss_mu", "correct", "w_l1"]
    rows = df.collect()
    assert [r["iteration"] for r in rows] == list(range(1, _ITERS + 1))


def test_holdout_eval_exposes_memorization(spark):
    """The fixture's labels are ~independent of the embeddings, so the
    registered holdout query must show the classic overfit signature:
    train accuracy well above chance (650 params memorizing ~400
    rows), holdout at chance. Deterministic: md5 split, zero init,
    fixed iterations — no RNG anywhere."""
    from flink_application_spark.plans.registry import REGISTRY_GET

    rows = {
        r["split"]: r
        for r in REGISTRY_GET("emb_lr_holdout_eval").spark(spark, _SF).collect()
    }
    assert set(rows) == {"train", "holdout"}
    assert rows["train"]["n"] + rows["holdout"]["n"] == 500
    assert rows["train"]["accuracy"] > rows["holdout"]["accuracy"] + 0.1
    assert rows["holdout"]["accuracy"] < 0.2  # chance-level on random labels


def _half_away_div(a: int, b: int) -> int:
    q = (abs(a) + b // 2) // b
    return q if a >= 0 else -q


def test_ragged_rows_skip_the_gradient(spark):
    """A row shorter than the model (or with a NULL coordinate) scores
    NULL — `zip_with` pads it — and must drop out of the gradient and
    the loss instead of crashing the executor; it still counts in n.
    Pinned against an exact Python-int replay of the full-dim rows."""
    # dyadic coordinates: exact in float32 and in ppm
    full = [
        (1, [0.0625, -0.03125, 0.015625], 0),
        (2, [-0.0625, 0.09375, 0.03125], 1),
        (3, [0.03125, 0.03125, -0.0625], 0),
        (4, [0.125, -0.0625, 0.0], 1),
    ]
    # odd ppm coordinates (15625): a NULL read as int64 garbage cannot
    # wrap back to a zero product
    ragged = [(5, [0.015625, 0.0625], 1), (6, [0.015625, None, 0.0625], 0)]
    # one partition, so full and ragged rows share one Arrow batch
    emb = spark.createDataFrame(
        full + ragged, "vec_id bigint, embedding array<float>, label int"
    ).coalesce(1)
    k, iters, n = 2, 3, len(full) + len(ragged)
    xs = [[round(v * 1e6) for v in vec] + [1_000_000] for _, vec, _ in full]
    ys = [lab for _, _, lab in full]
    w = [[0] * 4 for _ in range(k)]
    want_loss = []
    for _ in range(iters):
        g = [[0] * 4 for _ in range(k)]
        loss = 0
        for x, y in zip(xs, ys):
            rq = [
                _half_away_div(
                    sum(a * b for a, b in zip(x, w[c])) - (10**12 if c == y else 0),
                    1_000_000,
                )
                for c in range(k)
            ]
            loss += _half_away_div(sum(r * r for r in rq), 1000)
            for c in range(k):
                for p in range(4):
                    g[c][p] += rq[c] * x[p]
        want_loss.append(loss)
        w = [
            [
                int(_round_half_away(np.float64(
                    float(w[c][p]) - 1.5 * (float(g[c][p]) / (float(n) * 1e6)
                                            + 0.001 * float(w[c][p]))
                )))
                for p in range(4)
            ]
            for c in range(k)
        ]
    got_w, prof = lr_fit_exact(emb, k_classes=k, iters=iters)
    assert got_w == w
    assert [loss for _, loss, _, _ in prof] == want_loss


def test_overflowing_chunk_falls_back_to_python_ints(spark):
    """The int64 RᵀE matmul is used only under the per-chunk bound
    max|R|·max|E|·rows < 2⁶³; past it, cells accumulate exactly as
    Python ints — in the helper and through the Arrow pass, whose
    DECIMAL(38,0) output carries cells wider than a BIGINT."""
    from flink_application_spark.operators.lr_exact import (
        _exact_matmul,
        _round_cells,
    )

    # small residuals keep the engine-side loss term in BIGINT; the
    # coordinates push 3 · 4e18 · 2 rows ≈ 2.4e19 past 2⁶³
    big = 4 * 10**18
    R = np.array([[3, -2], [3, 1]], dtype=np.int64)
    E = np.array([[big, 1], [big, -big]], dtype=np.int64)
    want = [
        [sum(int(R[r, c]) * int(E[r, p]) for r in range(2)) for p in range(2)]
        for c in range(2)
    ]
    G = _exact_matmul(R, E)
    assert G.dtype == object  # the fallback fired
    assert G.tolist() == want
    assert want[0][0] >= 2**63  # the int64 matmul would have wrapped
    small = _exact_matmul(R, E // big)
    assert small.dtype == np.int64  # under the bound: plain int64

    scored = spark.createDataFrame(
        [(R[i].tolist(), E[i].tolist(), 0, 0) for i in range(2)],
        "rqs array<bigint>, e array<bigint>, pred int, label int",
    ).coalesce(1)
    cells = {
        (r["class"], r["pos0"]): int(r["g"])
        for r in _round_cells(scored).collect()
        if r["class"] >= 0
    }
    assert cells == {(c, p): want[c][p] for c in range(2) for p in range(2)}
