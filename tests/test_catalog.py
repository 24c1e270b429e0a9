"""catalog.table — one handle per table file version per application,
its temp view bound on every call — the CDR fixture frames built once
per `events` handle, and the one-application rule every session memo
follows."""

from __future__ import annotations

from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from flink_application_spark import catalog
from flink_application_spark.operators import kmeans_exact, nndescent_exact
from flink_application_spark.plans import _memo, cdr, lr_queries


@pytest.fixture
def documents_view(spark, sf_dir):
    """Leave the ``documents`` view on the session's testdata after the
    test, whatever it pointed the view at."""
    yield
    catalog.table(spark, sf_dir, "documents")


def _write_docs(sf: str, n: int) -> None:
    pq.write_table(
        pa.table({"doc_id": list(range(n)), "text": ["w"] * n}),
        f"{sf}/documents.parquet",
    )


def test_second_call_reuses_the_handle(spark, sf_dir, monkeypatch):
    first = catalog.table(spark, sf_dir, "documents")
    loads = []
    real = catalog.load_table
    monkeypatch.setattr(
        catalog, "load_table", lambda *a: loads.append(a) or real(*a)
    )
    assert catalog.table(spark, sf_dir, "documents") is first
    assert loads == []


def test_rewritten_file_is_read_fresh(spark, tmp_path, documents_view):
    _write_docs(str(tmp_path), 3)
    assert catalog.table(spark, str(tmp_path), "documents").count() == 3
    _write_docs(str(tmp_path), 5)
    assert catalog.table(spark, str(tmp_path), "documents").count() == 5
    assert spark.sql("FROM documents").count() == 5


def test_dropped_view_is_bound_again(spark, sf_dir, documents_view):
    docs = catalog.table(spark, sf_dir, "documents")
    spark.catalog.dropTempView("documents")
    catalog.table(spark, sf_dir, "documents")
    assert spark.sql("FROM documents").count() == docs.count()


def test_second_sf_dir_repoints_the_view(spark, sf_dir, tmp_path, documents_view):
    n = catalog.table(spark, sf_dir, "documents").count()
    assert spark.sql("FROM documents").count() == n
    _write_docs(str(tmp_path), 2)
    catalog.table(spark, str(tmp_path), "documents")
    assert spark.sql("FROM documents").count() == 2
    catalog.table(spark, sf_dir, "documents")
    assert spark.sql("FROM documents").count() == n


class _App:
    """A session stand-in: only the application id the memos key on."""

    def __init__(self, app_id: str) -> None:
        self.sparkContext = SimpleNamespace(applicationId=app_id)

    def createDataFrame(self, rows, schema):
        return rows


_EMB = SimpleNamespace(count=lambda: 4)


def _handles(app, tmp_path, monkeypatch):
    (tmp_path / "embeddings.parquet").write_bytes(b"")
    view = SimpleNamespace(createOrReplaceTempView=lambda name: None)
    monkeypatch.setattr(catalog, "load_table", lambda *a: view)
    catalog.table(app, str(tmp_path), "embeddings")


def _kmeans(app, tmp_path, monkeypatch):
    monkeypatch.setattr(kmeans_exact, "kmeans_fit_exact", lambda emb, k, iters: ([], []))
    _memo.kmeans_fit_exact_cached(app, _EMB, "sf", 2, 1)


def _graph(app, tmp_path, monkeypatch):
    monkeypatch.setattr(_memo, "_NVEC", {})  # the corpus count it takes
    monkeypatch.setattr(
        nndescent_exact,
        "nn_descent_exact",
        lambda emb, k, n_iter, _profile: SimpleNamespace(collect=lambda: []),
    )
    _memo.nn_descent_graph_cached(app, _EMB, "sf", 2, 1)


def _lr_fit(app, tmp_path, monkeypatch):
    monkeypatch.setattr(lr_queries, "table", lambda *a: _EMB)
    monkeypatch.setattr(lr_queries, "lr_fit_exact", lambda emb, k_classes, iters: ([], []))
    lr_queries._fit_cached(app, "sf", "full")


@pytest.mark.parametrize(
    "memo, fill",
    [
        ((catalog, "_HANDLES"), _handles),
        ((_memo, "_NVEC"), lambda app, *_: _memo.corpus_count_cached(app, _EMB, "sf")),
        ((_memo, "_KMEANS"), _kmeans),
        ((_memo, "_GRAPH"), _graph),
        ((lr_queries, "_FIT_CACHE"), _lr_fit),
    ],
    ids=["table_handles", "corpus_count", "kmeans", "knn_graph", "lr_fit"],
)
def test_a_new_application_evicts_the_last_ones_entries(memo, fill, tmp_path, monkeypatch):
    module, name = memo
    monkeypatch.setattr(module, name, {})
    fill(_App("app-a"), tmp_path, monkeypatch)
    assert {k[0] for k in getattr(module, name)} == {"app-a"}
    fill(_App("app-b"), tmp_path, monkeypatch)
    assert {k[0] for k in getattr(module, name)} == {"app-b"}


@pytest.fixture
def cdr_fixture_views(spark, sf_dir):
    """Leave ``events`` and the CDR fixture views on the session's
    testdata after the test."""
    yield
    cdr.cdr_views(spark, sf_dir)


def _write_events(sf: str, n: int) -> None:
    import datetime as dt

    ts = dt.datetime(2024, 1, 1)
    pq.write_table(
        pa.table(
            {
                "event_id": list(range(n)),
                "ts": [ts] * n,
                "user_id": list(range(n)),
                "event_type": ["signup"] * n,
            }
        ),
        f"{sf}/events.parquet",
    )


def test_cdr_fixture_frames_are_built_once_and_views_rebound(
    spark, sf_dir, cdr_fixture_views
):
    first = cdr.cdr_views(spark, sf_dir)
    spark.catalog.dropTempView("ms_ip")
    again = cdr.cdr_views(spark, sf_dir)
    assert all(again[n] is first[n] for n in cdr.FIXTURE_VIEWS)
    assert spark.sql("FROM ms_ip").count() == first["ms_ip"].count()


def test_cdr_fixture_frames_follow_a_rewritten_events_file(
    spark, tmp_path, cdr_fixture_views
):
    _write_events(str(tmp_path), 3)
    assert cdr.cdr_views(spark, str(tmp_path))["cdr_src"].count() == 3
    _write_events(str(tmp_path), 5)
    assert cdr.cdr_views(spark, str(tmp_path))["cdr_src"].count() == 5
    assert spark.sql("FROM ms_ip").count() == 5
