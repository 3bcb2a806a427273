"""SparkSession factory with the engine's standard config.

Local-mode testing stands in for a multi-executor cluster; partitioning and
shuffle settings are chosen so the same plans hold at cluster scale (AQE on,
explicit shuffle partition count, Arrow enabled for all pandas UDF exchange).
"""

from __future__ import annotations

import os
import tempfile
import threading
import zipfile
from functools import reduce
from operator import and_
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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


SparkSource = SparkSession | Callable[[], SparkSession] | None

_open_lock = threading.Lock()


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

    A *plain* handle is the union of its roots as they are: ``columns``
    and :meth:`dataset` answer from the parquet files, and
    :func:`point_read` reads it with pyarrow. ``build`` makes a *derived*
    handle whose rows are ``build(union of the roots)`` (e.g. per-term
    stats re-aggregated across segments); it answers rows and ``columns``
    only through Spark."""

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
        self._ds = None

    def dataset(self):
        """The pyarrow dataset over the roots' files, one child per root
        (memoized)."""
        if self._ds is None:
            import pyarrow.dataset as ds

            parts = [
                ds.dataset(r, format="parquet", partitioning="hive")
                for r in self.roots
            ]
            self._ds = parts[0] if len(parts) == 1 else ds.dataset(parts)
        return self._ds

    @property
    def columns(self) -> list[str]:
        if self._df is None and self.plain:
            return self.dataset().schema.names
        return self.__getattr__("columns")

    def _open(self, spark: SparkSession) -> DataFrame:
        df = reduce(
            DataFrame.unionByName, [spark.read.parquet(r) for r in self.roots]
        )
        return df if self._build is None else self._build(df)

    def __getattr__(self, name: str):
        if name.startswith("__"):  # copy/pickle probes: no session for those
            raise AttributeError(name)
        if self._df is None:
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

    A plain :class:`LazyParquet` is read with pyarrow — partition
    pruning, row-group statistics and the predicate pushed into the
    scan, no Spark job. Anything else (a live DataFrame, a derived
    handle) goes through one pruned Spark collect."""
    where = {key: list(keys), **(prune or {})}
    if not where[key]:
        return []
    if is_plain(table):
        import pyarrow.dataset as ds

        expr = reduce(and_, [ds.field(c).isin(v) for c, v in where.items()])
        return table.dataset().to_table(filter=expr, columns=columns).to_pylist()
    df = table
    for c, v in where.items():
        df = df.filter(F.col(c).isin(v))
    if columns is not None:
        df = df.select(*columns)
    return [r.asDict() for r in df.collect()]
