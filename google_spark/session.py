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
from typing import Callable

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
    """A parquet directory's DataFrame, opened on first use — so a published
    bundle loads with no JVM, and only a route that really runs a
    distributed job starts one.

    ``spark`` is the session to read through: a SparkSession, a zero-argument
    callable returning one, or None for :func:`get_spark`; it is resolved on
    first use. Attribute access forwards to the DataFrame; ``join``,
    ``unionByName`` and ``F.broadcast`` only touch ``other._jdf``, so a
    handle is accepted wherever a DataFrame is. pyspark builds Columns
    (``F.col``, ``F.broadcast``) only inside an active session, so touch the
    handle before building them. ``columns`` and :meth:`dataset` answer
    from the parquet files without opening a session. ``build`` replaces
    the plain ``read.parquet(path)`` (e.g. a union of segment dirs);
    ``path`` then names the one whose schema stands for the result."""

    def __init__(
        self,
        path: str,
        spark: SparkSource = None,
        build: Callable[[SparkSession], DataFrame] | None = None,
    ):
        self.path = path
        self.spark = spark
        self._build = build or (lambda s: s.read.parquet(path))
        self._df: DataFrame | None = None
        self._ds = None

    def dataset(self):
        """The pyarrow dataset over ``path`` (memoized)."""
        if self._ds is None:
            import pyarrow.dataset as ds

            self._ds = ds.dataset(self.path, format="parquet", partitioning="hive")
        return self._ds

    @property
    def columns(self) -> list[str]:
        if self._df is not None:
            return self._df.columns
        return self.dataset().schema.names

    def __getattr__(self, name: str):
        if name.startswith("__"):  # copy/pickle probes: no session for those
            raise AttributeError(name)
        if self._df is None:
            with _open_lock:
                if self._df is None:
                    spark = self.spark
                    if not isinstance(spark, SparkSession):
                        spark = (spark or get_spark)()
                    self._df = self._build(spark)
        return getattr(self._df, name)
