"""session.py: the executor zip is published atomically, LazyParquet opens
its DataFrame once, only on first use, and point_read answers a plain
handle with pyarrow exactly as Spark answers the same rows."""

from __future__ import annotations

import ast
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
    assert h.read().to_pylist() == [{"term": "a", "df": 1}]
    assert copy.copy(h).roots == h.roots  # dunder probes never open either


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


def _roots(tmp_path) -> list[str]:
    """Two hive-partitioned roots (tb=0/1) of (term, df) rows, the layout
    of a two-segment postings table, plus a third root whose one file
    holds several row groups of sorted terms (so reads prune row groups)
    beside what a directory reader must skip: Spark's ``_SUCCESS`` and
    ``.crc`` files, and a torn ``*.parquet.tmp`` staging file."""
    terms = iter("abcdefgh")
    roots = []
    for r in range(2):
        for tb in (0, 1):
            d = tmp_path / f"seg{r}" / f"tb={tb}"
            d.mkdir(parents=True)
            rows = [{"term": next(terms), "df": 10 * r + tb} for _ in range(2)]
            pq.write_table(pa.Table.from_pylist(rows), d / "part-0.parquet")
        roots.append(str(tmp_path / f"seg{r}"))
    d = tmp_path / "seg2" / "tb=1"
    d.mkdir(parents=True)
    rows = [{"term": f"m{i:02d}", "df": i} for i in range(12)]
    pq.write_table(pa.Table.from_pylist(rows), d / "part-0.parquet", row_group_size=3)
    assert pq.ParquetFile(d / "part-0.parquet").num_row_groups == 4
    (d / "_SUCCESS").write_bytes(b"")
    (d / ".part-2.parquet.crc").write_bytes(b"not parquet")
    (d / "part-1.parquet.tmp").write_bytes(b"PAR1 torn")
    roots.append(str(tmp_path / "seg2"))
    return roots


def test_point_read_plain_handles_match_dataframe(spark, tmp_path, monkeypatch):
    """Plain handles over one root, over two roots and over a root of
    several row groups beside non-data files return the same rows as the
    equivalent DataFrames for present, absent and empty keys — the handles
    without opening a session — and a derived handle answers through
    Spark."""
    from pyspark.sql import functions as F

    from google_spark.session import LazyParquet, point_read

    def no_session():
        raise AssertionError("a plain point read opened a session")

    roots = _roots(tmp_path)
    one = spark.read.parquet(roots[0])
    both = one.unionByName(spark.read.parquet(roots[1]))
    # Spark would read the torn file, so its frame comes from the file alone
    groups = spark.read.parquet(f"{roots[2]}/tb=1/part-0.parquet").withColumn(
        "tb", F.lit(1)
    )
    pairs = [
        (LazyParquet(roots[0], no_session), one),
        (LazyParquet(roots[:2], no_session), both),
        (LazyParquet(roots[2], no_session), groups),
    ]
    key_sets = [
        ["a", "f"], ["b", "c", "h"], ["zz"], ["a", "zz"], [],
        ["m00"], ["m04", "m05", "m11"], ["m02", "m03", "zz"], ["l", "m055"],
    ]
    for handle, df in pairs:
        assert handle.columns == df.columns == ["term", "df", "tb"]
        for keys in key_sets:
            for columns in (None, ["term", "df"]):
                for prune in (None, {"tb": [1]}):
                    got = point_read(handle, "term", keys, columns, prune)
                    want = point_read(df, "term", keys, columns, prune)
                    assert sorted(got, key=lambda r: r["term"]) == sorted(
                        want, key=lambda r: r["term"]
                    ), (keys, columns, prune)
    assert point_read(pairs[1][0], "term", ["a", "g"], ["term", "df"]) != []
    # the footer's min/max keep only the row groups holding a key
    read_groups = []
    real = pq.ParquetFile.read_row_groups

    def spy(self, row_groups, **kw):
        read_groups.append(list(row_groups))
        return real(self, row_groups, **kw)

    monkeypatch.setattr(pq.ParquetFile, "read_row_groups", spy)
    assert point_read(pairs[2][0], "term", ["m04", "m11"], ["df"]) == [
        {"df": 4}, {"df": 11}
    ]
    assert read_groups == [[1, 3]]
    monkeypatch.undo()
    assert point_read(pairs[1][0], "term", [], ["term"]) == []

    derived = LazyParquet(
        roots[:2], spark, build=lambda df: df.groupBy("tb").agg(F.sum("df").alias("df"))
    )
    assert not derived.plain and derived._df is None
    assert derived.columns == ["tb", "df"]  # the derived schema, via Spark
    assert derived._df is not None
    got = point_read(derived, "tb", [1], ["tb", "df"])
    assert got == [{"tb": 1, "df": 1 + 1 + 11 + 11}]


def test_pyarrow_dataset_is_imported_only_by_session():
    """No module of the package imports pyarrow.dataset: it imports pandas,
    and the serving process reads parquet with ``pq.ParquetFile`` alone
    (session.point_read / LazyParquet.read)."""
    import google_spark

    pkg = os.path.dirname(google_spark.__file__)
    offenders = []
    for root, _dirs, files in os.walk(pkg):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            for node in ast.walk(tree):
                names = []
                if isinstance(node, ast.Import):
                    names = [a.name for a in node.names]
                elif isinstance(node, ast.ImportFrom) and node.module:
                    names = [f"{node.module}.{a.name}" for a in node.names]
                    names.append(node.module)
                if any(n == "pyarrow.dataset" or n.startswith("pyarrow.dataset.") for n in names):
                    offenders.append(os.path.relpath(path, pkg))
    assert offenders == [], offenders
