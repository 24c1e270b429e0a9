"""Online mini-batch LR training (`streaming/lr_online.py`): the
gradient pass must agree with central finite differences, ordered
single-partition waves must reproduce the numpy mini-batch reference
bit-for-bit, replays must be no-ops (same predecessor weights → same
committed weights), a crash-partial weight dir must be invisible, and
the streamed model must descend on the stream it saw."""

from __future__ import annotations

import os

import numpy as np
import pytest

from flink_application_spark.streaming.lr_online import OnlineLRTrainer, _one_pass

# slow tier: e2e streaming / stateful-store / property tests (round-8
# verdict item 8). Default runs exclude these via pytest.ini addopts;
# run the full suite with:  python -m pytest tests/ -q -m ''
_slow = pytest.mark.slow

_SF = "/root/testdata/sf0.001"
_C, _D = 10, 64


def _emb(spark):
    from flink_application_spark.catalog import register_views

    emb = register_views(spark, _SF, tables=("embeddings",))["embeddings"]
    return emb.filter("embedding IS NOT NULL AND label IS NOT NULL")


def _waves(spark, n=3):
    emb = _emb(spark)
    # deterministic, contiguous waves; coalesce(1) + vec_id order makes
    # each wave a single partition in reference row order (bit-parity)
    return [
        emb.filter(f"vec_id % {n} = {i}").orderBy("vec_id").coalesce(1)
        for i in range(n)
    ]


def _xy(df):
    rows = df.select("vec_id", "embedding", "label").orderBy("vec_id").collect()
    x = np.asarray([r["embedding"] for r in rows], dtype=np.float64)
    y = np.asarray([r["label"] for r in rows], dtype=np.int64)
    return x, y


def _reference_minibatch(batches, step, l2, steps_per_batch=1):
    w = np.zeros((_C, _D))
    b = np.zeros(_C)
    for x, y in batches:
        for _ in range(steps_per_batch):
            z = x @ w.T + b
            z -= z.max(axis=1, keepdims=True)
            e = np.exp(z)
            p = e / e.sum(axis=1, keepdims=True)
            p[np.arange(len(y)), y] -= 1.0
            w = w - step * ((p.T @ x) / len(y) + l2 * w)
            b = b - step * (p.sum(axis=0) / len(y))
    return w, b


def test_gradient_matches_finite_differences(spark):
    """The softmax-NLL gradient `_one_pass` computes on the executors
    (p − onehot, folded over the Arrow partials) must agree with
    central finite differences of the NLL — this breaks the
    circularity of pinning the stream against a numpy reference that
    shares its formula."""
    rng = np.random.default_rng(7)
    n, c, d = 12, 3, 4
    x = rng.normal(size=(n, d))
    y = rng.integers(0, c, size=n)
    w = rng.normal(scale=0.3, size=(c, d))
    b = rng.normal(scale=0.3, size=c)
    df = spark.createDataFrame(
        [(x[i].tolist(), int(y[i])) for i in range(n)],
        "embedding array<double>, label int",
    ).repartition(3)

    def loss(w_, b_):
        z = x @ w_.T + b_
        z = z - z.max(axis=1, keepdims=True)
        p = np.exp(z)
        p /= p.sum(axis=1, keepdims=True)
        return float(-np.log(p[np.arange(n), y]).sum())

    partials = _one_pass(df, w, b, vec_col="embedding", label_col="label")
    g = np.sum([np.asarray(r["g"]) for r in partials], axis=0)
    assert sum(r["n"] for r in partials) == n
    assert sum(r["nll"] for r in partials) == pytest.approx(loss(w, b), rel=1e-12)
    g_w = g[: c * d].reshape(c, d)
    g_b = g[c * d :]

    eps = 1e-6
    for idx in [(0, 0), (1, 2), (2, 3)]:
        wp = w.copy(); wp[idx] += eps
        wm = w.copy(); wm[idx] -= eps
        fd = (loss(wp, b) - loss(wm, b)) / (2 * eps)
        assert abs(fd - g_w[idx]) < 1e-5, (idx, fd, g_w[idx])
    for j in range(c):
        bp = b.copy(); bp[j] += eps
        bm = b.copy(); bm[j] -= eps
        fd = (loss(w, bp) - loss(w, bm)) / (2 * eps)
        assert abs(fd - g_b[j]) < 1e-5, (j, fd, g_b[j])


@_slow
def test_stream_matches_minibatch_reference_bit_exactly(spark, tmp_path):
    waves = _waves(spark)
    tr = OnlineLRTrainer(str(tmp_path / "lr"), n_classes=_C, dim=_D, step=16.0)
    for i, wave in enumerate(waves):
        tr.process_batch(wave, i)
    w, b, n_seen = tr.weights(spark)
    rw, rb = _reference_minibatch([_xy(wv) for wv in waves], step=16.0, l2=1e-3)
    assert np.array_equal(w, rw)
    assert np.array_equal(b, rb)
    assert n_seen == sum(wv.count() for wv in waves)


@_slow
def test_replay_is_noop(spark, tmp_path):
    waves = _waves(spark)
    tr = OnlineLRTrainer(str(tmp_path / "lr"), n_classes=_C, dim=_D, step=16.0)
    tr.process_batch(waves[0], 0)
    tr.process_batch(waves[1], 1)
    w1, b1, n1 = tr.weights(spark)
    # checkpoint replay re-runs batch 1: it must recompute from batch
    # 0's weights (not its own) and commit the identical result
    tr.process_batch(waves[1], 1)
    w2, b2, n2 = tr.weights(spark)
    assert np.array_equal(w1, w2) and np.array_equal(b1, b2) and n1 == n2
    tr.process_batch(waves[2], 2)
    rw, rb = _reference_minibatch([_xy(wv) for wv in waves], step=16.0, l2=1e-3)
    assert np.array_equal(tr.weights(spark)[0], rw)


@_slow
def test_uncommitted_weights_are_invisible(spark, tmp_path):
    waves = _waves(spark)
    tr = OnlineLRTrainer(str(tmp_path / "lr"), n_classes=_C, dim=_D, step=16.0)
    tr.process_batch(waves[0], 0)
    w0, b0, _ = tr.weights(spark)
    tr.process_batch(waves[1], 1)
    os.remove(os.path.join(tr._dir, "_batch=1", "_SUCCESS"))
    # the crash-partial batch 1 must be invisible to reads...
    w, b, _ = tr.weights(spark)
    assert np.array_equal(w, w0) and np.array_equal(b, b0)
    # ...and to batch 2's predecessor lookup; the replayed batch 1 then
    # overwrites its partial dir and the stream converges as if no crash
    tr.process_batch(waves[1], 1)
    tr.process_batch(waves[2], 2)
    rw, rb = _reference_minibatch([_xy(wv) for wv in waves], step=16.0, l2=1e-3)
    assert np.array_equal(tr.weights(spark)[0], rw)


@_slow
def test_streamed_model_descends_on_seen_data(spark, tmp_path):
    waves = _waves(spark)
    tr = OnlineLRTrainer(
        str(tmp_path / "lr"), n_classes=_C, dim=_D, step=16.0, steps_per_batch=3
    )
    for i, wave in enumerate(waves):
        tr.process_batch(wave, i)
    w, b, _ = tr.weights(spark)
    x, y = _xy(_emb(spark))
    z = x @ w.T + b
    z -= z.max(axis=1, keepdims=True)
    e = np.exp(z)
    p = e / e.sum(axis=1, keepdims=True)
    nll = float(-np.log(p[np.arange(len(y)), y]).mean())
    assert nll < np.log(_C)  # better than the zero-init model


@_slow
def test_attached_file_stream_trains(spark, tmp_path):
    import time

    from flink_application_spark.sources.streams import file_stream

    waves = _waves(spark)
    src = tmp_path / "src"
    src.mkdir()
    for i, wave in enumerate(waves):
        wave.write.parquet(str(src / f"wave{i}"))
        time.sleep(1.2)  # modTime-ordered micro-batches (see verify notes)
    stream = file_stream(
        spark,
        str(src / "wave*"),
        schema_ddl="vec_id bigint, embedding array<float>, label int",
    )
    tr = OnlineLRTrainer(str(tmp_path / "lr"), n_classes=_C, dim=_D, step=16.0)
    q = tr.attach(stream, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    w, b, n_seen = tr.weights(spark)
    assert n_seen == sum(wv.count() for wv in waves)
    assert float(np.abs(w).sum()) > 0.0  # the model actually moved
