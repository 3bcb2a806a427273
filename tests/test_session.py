"""session.py without a JVM: the executor zip is published atomically and
LazyParquet opens its DataFrame once, only on first use."""

from __future__ import annotations

import copy
import os
import sys
import tempfile
import threading
import time
import zipfile

import pyarrow as pa
import pyarrow.parquet as pq


def test_package_zip_readers_never_see_a_torn_zip(tmp_path, monkeypatch):
    from google_spark.session import _package_zip

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    out = _package_zip()
    stop = threading.Event()
    torn: list[Exception] = []

    def writer():
        while not stop.is_set():
            _package_zip()

    def reader():
        while not stop.is_set():
            try:
                with zipfile.ZipFile(out) as zf:
                    assert "google_spark/session.py" in zf.namelist()
            except (zipfile.BadZipFile, EOFError, OSError) as exc:
                torn.append(exc)

    threads = [threading.Thread(target=writer) for _ in range(3)]
    threads += [threading.Thread(target=reader) for _ in range(3)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        time.sleep(2.0)
    finally:
        stop.set()
        sys.setswitchinterval(old)
        for t in threads:
            t.join(timeout=30)
    assert not any(t.is_alive() for t in threads)
    assert not torn, torn[:3]
    assert [p.name for p in tmp_path.iterdir()] == [os.path.basename(out)]


class _FakeSession:
    """Stands in for a SparkSession: ``read.parquet`` counts opens."""

    def __init__(self):
        self.opens = 0
        self.read = self

    def parquet(self, path):
        time.sleep(0.05)  # widen the window for a second opener
        self.opens += 1
        return pa.table({"path": [path]})


def _table(tmp_path) -> str:
    d = tmp_path / "t.parquet"
    d.mkdir()
    pq.write_table(pa.table({"term": ["a"], "df": [1]}), d / "part-0.parquet")
    return str(d)


def test_lazy_parquet_columns_open_no_session(tmp_path):
    from google_spark.session import LazyParquet

    def no_session():
        raise AssertionError("columns opened a session")

    h = LazyParquet(_table(tmp_path), no_session)
    assert h.columns == ["term", "df"]
    assert h.dataset().to_table().num_rows == 1
    assert copy.copy(h).path == h.path  # dunder probes never open either


def test_lazy_parquet_opens_once_under_concurrent_first_use(tmp_path):
    from google_spark.session import LazyParquet

    fake = _FakeSession()
    h = LazyParquet(_table(tmp_path), lambda: fake)
    got: list = []
    threads = [
        threading.Thread(target=lambda: got.append(h.num_rows)) for _ in range(16)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=30)
    assert not any(t.is_alive() for t in threads)
    assert got == [1] * 16 and fake.opens == 1
