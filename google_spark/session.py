"""SparkSession factory with the engine's standard config.

Local-mode testing stands in for a multi-executor cluster; partitioning and
shuffle settings are chosen so the same plans hold at cluster scale (AQE on,
explicit shuffle partition count, Arrow enabled for all pandas UDF exchange).
"""

from __future__ import annotations

import bisect
import os
import tempfile
import threading
import zipfile
from concurrent.futures import ThreadPoolExecutor
from typing import TYPE_CHECKING, Callable, Union

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

# Parquet codec of every table the engine writes: the session default for
# Spark writes, and the codec the pyarrow delete-file writer passes.
PARQUET_CODEC = "zstd"


def _package_zip() -> str:
    """Zip the google_spark package so executors can import it regardless of
    the consumer's cwd — the library equivalent of launching with
    ``spark-submit --py-files engine.zip`` (BASELINE.json north_rule).
    Written under a temp name and renamed into place, so a concurrent
    process never ``addPyFile``s a half-written zip."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    out = os.path.join(tempfile.gettempdir(), "google_spark_pyfiles.zip")
    fd, tmp = tempfile.mkstemp(
        prefix=".google_spark_pyfiles.", suffix=".zip", dir=os.path.dirname(out)
    )
    try:
        with os.fdopen(fd, "wb") as fh, zipfile.ZipFile(fh, "w") as zf:
            for root, _, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        zf.write(full, rel)
        os.replace(tmp, out)
    except BaseException:
        os.unlink(tmp)
        raise
    return out


def get_spark(
    app: str = "google_spark",
    cores: str | int | None = None,
    shuffle_partitions: int = 32,
    driver_memory: str = "24g",
) -> SparkSession:
    """The engine's session (get-or-create) with the standard config: AQE,
    explicit shuffle partitions, Arrow exchange, UTC, and zstd as the
    parquet codec, so every table the engine writes (postings, terms,
    docstore, catalog segments and sidecars, trigram bundles) is zstd.
    Readers detect the codec per column chunk, so bundles written with
    another codec keep serving."""
    from pyspark.sql import SparkSession

    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.compression.codec", PARQUET_CODEC)
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addPyFile(_package_zip())
    return spark


SparkSource = Union["SparkSession", Callable[[], "SparkSession"], None]

_open_lock = threading.Lock()


def _partition_value(v: str):
    """A hive ``k=v`` directory value as Spark and pyarrow infer the
    engine's partition columns (``tb``, ``gb``): an int when it parses as
    one, else the string."""
    try:
        return int(v)
    except ValueError:
        return v


def parquet_files(root: str) -> list[tuple[str, dict]]:
    """(path, hive partition values) of every committed parquet file under
    ``root`` (or ``root`` itself when it is a file), sorted by path. Only
    ``*.parquet`` names count, and no file or directory whose name starts
    with '.' or '_': Spark's ``_SUCCESS`` and ``.crc`` files, and a
    crashed writer's torn staging file, are never read as data."""
    if os.path.isfile(root):
        return [(root, {})]
    out = []

    def walk(d: str, part: dict) -> None:
        for e in sorted(os.scandir(d), key=lambda e: e.name):
            if e.name.startswith((".", "_")):
                continue
            if e.is_dir():
                k, eq, v = e.name.partition("=")
                walk(e.path, {**part, k: _partition_value(v)} if eq else part)
            elif e.name.endswith(".parquet"):
                out.append((e.path, part))

    walk(root, {})
    return out


class _Footer:
    """One parquet file's footer, read once: the arrow column names, and
    per key column the (row group, min, max) statistics that prune a
    point read (min/max None where a row group carries none)."""

    def __init__(self, path: str):
        self.meta = pq.read_metadata(path)
        self.names = self.meta.schema.to_arrow_schema().names
        self._ranges: dict[str, list] = {}

    def row_groups(self, col: str, keys: list) -> list[int]:
        """Row groups whose ``col`` range holds one of the sorted ``keys``
        (every row group when ``col`` has no statistics)."""
        ranges = self._ranges.get(col)
        if ranges is None:
            md = self.meta
            paths = [md.schema.column(j).path for j in range(md.num_columns)]
            i = paths.index(col) if col in paths else None
            ranges = []
            for r in range(md.num_row_groups):
                st = md.row_group(r).column(i).statistics if i is not None else None
                ok = st is not None and st.has_min_max
                ranges.append((r, st.min if ok else None, st.max if ok else None))
            self._ranges[col] = ranges
        out = []
        for r, lo, hi in ranges:
            j = 0 if lo is None else bisect.bisect_left(keys, lo)
            if j < len(keys) and (hi is None or keys[j] <= hi):
                out.append(r)
        return out


class LazyParquet:
    """One or more parquet roots read as one table, opened on first use —
    so a published bundle or catalog snapshot loads with no JVM, and only
    a route that really runs a distributed job starts one.

    ``roots`` is a parquet directory or a list of them (a snapshot's
    segments). ``spark`` is the session to read through: a SparkSession, a
    zero-argument callable returning one, or None for :func:`get_spark`;
    it is resolved on first use. Attribute access forwards to the
    DataFrame; ``join``, ``unionByName`` and ``F.broadcast`` only touch
    ``other._jdf``, so a handle is accepted wherever a DataFrame is.
    pyspark builds Columns (``F.col``, ``F.broadcast``) only inside an
    active session, so touch the handle before building them.

    A *plain* handle is the union of its roots as they are: ``columns``,
    :meth:`read` and :func:`point_read` answer from the parquet files with
    ``pq.ParquetFile`` (the file list and footers are read once), so they
    import neither pyspark nor pandas. ``build`` makes a *derived* handle
    whose rows are ``build(union of the roots)`` (e.g. per-term stats
    re-aggregated across segments); it answers rows and ``columns`` only
    through Spark."""

    def __init__(
        self,
        roots: str | list[str],
        spark: SparkSource = None,
        build: Callable[[DataFrame], DataFrame] | None = None,
    ):
        self.roots = [roots] if isinstance(roots, str) else list(roots)
        self.spark = spark
        self.plain = build is None
        self._build = build
        self._df: DataFrame | None = None
        self._files: list[tuple[str, dict]] | None = None
        self._footers: dict[str, _Footer] = {}

    def files(self) -> list[tuple[str, dict]]:
        """:func:`parquet_files` of every root, in root order (memoized)."""
        if self._files is None:
            self._files = [f for r in self.roots for f in parquet_files(r)]
        return self._files

    def _footer(self, path: str) -> _Footer:
        ft = self._footers.get(path)
        if ft is None:
            ft = self._footers[path] = _Footer(path)
        return ft

    def read(self, columns: list[str] | None = None) -> pa.Table | None:
        """The files' own ``columns`` (None = all; hive partition values
        are not added) as one table, or None when there is no file."""
        parts = [
            pq.ParquetFile(p, metadata=self._footer(p).meta).read(columns=columns)
            for p, _ in self.files()
        ]
        return pa.concat_tables(parts) if parts else None

    @property
    def columns(self) -> list[str]:
        if self._df is None and self.plain:
            files = self.files()
            if not files:
                return []
            path, part = files[0]
            return self._footer(path).names + list(part)
        return self.__getattr__("columns")

    def _open(self, spark: SparkSession) -> DataFrame:
        from functools import reduce

        from pyspark.sql import DataFrame

        df = reduce(
            DataFrame.unionByName, [spark.read.parquet(r) for r in self.roots]
        )
        return df if self._build is None else self._build(df)

    def __getattr__(self, name: str):
        if name.startswith("__"):  # copy/pickle probes: no session for those
            raise AttributeError(name)
        if self._df is None:
            from pyspark.sql import SparkSession

            with _open_lock:
                if self._df is None:
                    spark = self.spark
                    if not isinstance(spark, SparkSession):
                        spark = (spark or get_spark)()
                    self._df = self._open(spark)
        return getattr(self._df, name)


def is_plain(table) -> bool:
    """True for a handle that :func:`point_read` answers with pyarrow."""
    return isinstance(table, LazyParquet) and table.plain


def point_read(
    table,
    key: str,
    keys,
    columns: list[str] | None = None,
    prune: dict[str, list] | None = None,
) -> list[dict]:
    """Rows of ``table`` whose ``key`` is in ``keys``, as dicts — the
    serving tier's one lookup primitive (the analog of the reference's
    per-word KVS ``get``, ref: src/cis5550/jobs/RankScore.java:112,152).
    ``columns`` selects columns (None = all); ``prune`` adds filters
    ``{column: values}`` that every returned row also satisfies (the
    term-bucket partition column, so a read opens only those
    directories).

    A plain :class:`LazyParquet` is read with ``pq.ParquetFile``: files
    are skipped on their partition values, row groups on the key's footer
    min/max, and the rows read are matched with ``pc.is_in`` — no Spark
    job, no pandas. Anything else (a live DataFrame, a derived
    handle) goes through one pruned Spark collect."""
    where = {key: list(keys), **(prune or {})}
    if not where[key]:
        return []
    if is_plain(table):
        return _point_read_plain(table, key, where, columns)
    from pyspark.sql import functions as F

    df = table
    for c, v in where.items():
        df = df.filter(F.col(c).isin(v))
    if columns is not None:
        df = df.select(*columns)
    return [r.asDict() for r in df.collect()]


def _arrow_values(values: list) -> pa.Array:
    """``values`` (all str, or all ints) as an Arrow array, built from
    buffers because ``pa.array`` imports pandas."""
    if isinstance(values[0], str):
        data = [v.encode() for v in values]
        offsets = np.cumsum([0] + [len(b) for b in data], dtype=np.int32)
        buffers = [None, pa.py_buffer(offsets), pa.py_buffer(b"".join(data))]
        return pa.Array.from_buffers(pa.string(), len(data), buffers)
    ints = np.asarray(values, dtype=np.int64)
    return pa.Array.from_buffers(pa.int64(), len(ints), [None, pa.py_buffer(ints)])


_pool: ThreadPoolExecutor | None = None


def _point_read_plain(
    table: LazyParquet, key: str, where: dict[str, list], columns
) -> list[dict]:
    """Files are read in parallel, as a pyarrow dataset scan would: a
    docstore read decompresses one row group per file."""
    global _pool
    sorted_keys = sorted(set(where[key]))

    def read(file: tuple[str, dict]) -> list[dict]:
        path, part = file
        ft = table._footer(path)
        rgs = ft.row_groups(key, sorted_keys) if key in ft.names else None
        if rgs == []:
            return []
        cols = [c for c in ft.names if columns is None or c in columns or c in where]
        f = pq.ParquetFile(path, metadata=ft.meta)
        tbl = f.read(columns=cols) if rgs is None else f.read_row_groups(rgs, columns=cols)
        mask = None
        for c in where.keys() & set(cols):
            col = tbl.column(c)
            m = pc.is_in(col, value_set=_arrow_values(where[c]).cast(col.type))
            mask = m if mask is None else pc.and_(mask, m)
        rows = (tbl if mask is None else tbl.filter(mask)).to_pylist()
        for row in rows:
            row.update(part)
        return rows if columns is None else [{c: r[c] for c in columns} for r in rows]

    files = [
        (path, part)
        for path, part in table.files()
        if all(part[c] in v for c, v in where.items() if c in part)
    ]
    if len(files) < 2:
        return [r for f in files for r in read(f)]
    if _pool is None:
        with _open_lock:
            if _pool is None:
                _pool = ThreadPoolExecutor(pa.cpu_count(), "point_read")
    return [r for rows in _pool.map(read, files) for r in rows]
