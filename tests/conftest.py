from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from google_spark.session import get_spark

    # The test tables are a few hundred rows: 8 shuffle partitions (twice
    # the usual 4 cores) instead of the engine's 32 cuts the per-task cost
    # that dominates every shuffle at this size.
    s = get_spark(app="google_spark_tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus_pdf():
    from google_spark.corpus import generate_source_files

    return generate_source_files(n_files=300, seed=42)


@pytest.fixture(scope="session")
def corpus_df(spark, corpus_pdf):
    return spark.createDataFrame(corpus_pdf).repartition(8)


@pytest.fixture(scope="session")
def run_batch_build(spark):
    """``jobs/build_index.py``'s batch loop over the test corpus in 3
    batches: ``run(docs, root)`` returns the compacted segment dir of the
    catalog at ``root``."""
    from jobs.build_index import build_batches

    def run(docs, root):
        return build_batches(spark, docs, root, n_batches=3, text_col="content")

    return run


@pytest.fixture(scope="session")
def batch_build(corpus_df, run_batch_build, tmp_path_factory):
    """A finished batch build of the test corpus: (catalog root, compacted
    segment dir). Tests that commit use ``batch_catalog``."""
    from google_spark.sources.tables import with_doc_identity

    root = str(tmp_path_factory.mktemp("batch_build") / "cat")
    return root, run_batch_build(with_doc_identity(corpus_df), root)


@pytest.fixture
def batch_catalog(batch_build, tmp_path):
    """A copy of ``batch_build``'s catalog that a test may commit to."""
    import shutil

    from google_spark.operators.catalog import SnapshotCatalog

    root = str(tmp_path / "cat")
    shutil.copytree(batch_build[0], root)
    return SnapshotCatalog(root)


@pytest.fixture
def batch_commits(monkeypatch):
    """Spy on the catalog: (method, batch tag) of every batch commit."""
    from google_spark.operators.catalog import SnapshotCatalog

    calls = []
    for name in ("commit_build", "append_docs"):
        real = getattr(SnapshotCatalog, name)

        def spy(self, *a, _real=real, _name=name, **kw):
            calls.append((_name, (kw.get("tags") or {}).get("batch")))
            return _real(self, *a, **kw)

        monkeypatch.setattr(SnapshotCatalog, name, spy)
    return calls
