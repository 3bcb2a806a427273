"""Shared helpers: percentiles, process memory, Spark job counts, machine facts,
and the per-run work directory that keeps every file inside the checkout."""

from __future__ import annotations

import json
import math
import os
import platform
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
CACHE_ROOT = os.path.join(ROOT, ".perfbench_cache")
OUT_ROOT = os.path.join(ROOT, ".perfbench_out")


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress to stderr, stamped with seconds since the benchmark started."""
    print(f"[{time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def tail_percentile(values: list[float], want: float = 99.0, beyond: int = 10) -> tuple[float, float]:
    """(percentile used, value): ``want`` if at least ``beyond`` samples lie
    above it, else the highest percentile that still has ``beyond`` samples
    above it. Nearest-rank on the sorted sample."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    p = want
    if n * (1 - want / 100.0) < beyond:
        p = max(50.0, 100.0 * (1 - beyond / n))
    idx = min(n - 1, max(0, math.ceil(p / 100.0 * n) - 1))
    return p, xs[idx]


def median(values: list[float]) -> float:
    return statistics.median(values)


# minimum samples per group for the median and for the tail percentile
P50_GROUP = 25
TAIL_GROUP = 100


def grouped(slices: list[list[float]], min_n: int) -> list[list[float]]:
    """Consecutive time slices merged into groups of at least ``min_n``
    samples; a short remainder joins the last group."""
    groups: list[list[float]] = []
    cur: list[float] = []
    for s in slices:
        cur = cur + s
        if len(cur) >= min_n:
            groups.append(cur)
            cur = []
    if cur:
        if groups:
            groups[-1] = groups[-1] + cur
        else:
            groups.append(cur)
    return groups


def sliced_latency(slices: list[list[float]]) -> tuple[float, float, float]:
    """(p50, tail percentile used, tail) from latency samples cut into time
    slices. Each statistic is the median over groups of consecutive slices,
    so a slow phase of the machine or one garbage-collection pause that
    covers a minority of the run does not move it: p50 over groups of
    ``P50_GROUP`` samples, the tail (p99, or the highest percentile with 10
    samples beyond it) over groups of ``TAIL_GROUP``."""
    p50 = median([median(g) for g in grouped(slices, P50_GROUP)])
    tails = [tail_percentile(g) for g in grouped(slices, TAIL_GROUP)]
    return p50, min(p for p, _ in tails), median([v for _, v in tails])


def proc_hwm_mb(pid: int) -> float:
    """VmHWM (peak resident set) of one process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


def children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except FileNotFoundError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(x) for x in f.read().split()]
        except FileNotFoundError:
            continue
    return out


def descendants(pid: int) -> list[int]:
    out: list[int] = []
    stack = [pid]
    while stack:
        kids = children(stack.pop())
        out += kids
        stack += kids
    return out


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Poll until every pid has exited; returns those still alive."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _alive(p)]
        if alive:
            time.sleep(0.05)
    return alive


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().split(") ")[-1][:1] != "Z"
    except FileNotFoundError:
        return False


def spark_job_count(sc) -> int:
    """Number of Spark jobs the context has started (statusTracker keeps the
    ids of every job still in the UI's retention window, 1000 by default)."""
    return len(sc.statusTracker().getJobIdsForGroup(None))


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def machine_facts() -> dict:
    import numpy
    import pyarrow

    facts = {
        "nproc": os.cpu_count(),
        "affinity_cpus": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "python": platform.python_version(),
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
    }
    try:
        import pyspark

        facts["spark"] = pyspark.__version__
    except ImportError:
        facts["spark"] = None
    return facts


class WorkDir:
    """Per-run scratch directory under the checkout. Also points TMPDIR,
    SPARK_LOCAL_DIRS and the JVM's java.io.tmpdir into it, so neither this
    process nor the Spark JVMs it starts write outside the checkout."""

    def __init__(self, workload: str, seed: int):
        self.path = os.path.join(WORK_ROOT, f"{workload}-{seed}-{os.getpid()}")
        self.tmp = os.path.join(self.path, "tmp")
        os.makedirs(self.tmp, exist_ok=True)

    def env(self) -> dict:
        env = dict(os.environ)
        env["TMPDIR"] = self.tmp
        env["SPARK_LOCAL_DIRS"] = self.tmp
        # the Spark JVM and the launcher JVM spark-class starts: temp files here, no
        # hsperfdata files (those always go to /tmp)
        for var in ("SPARK_SUBMIT_OPTS", "SPARK_LAUNCHER_OPTS"):
            opts = env.get(var, "")
            env[var] = f"{opts} -Djava.io.tmpdir={self.tmp} -XX:-UsePerfData".strip()
        env["PYTHONDONTWRITEBYTECODE"] = "1"
        return env

    def apply_env(self) -> None:
        import tempfile

        os.environ.update(self.env())
        tempfile.tempdir = None  # re-read TMPDIR on next use

    def sub(self, name: str) -> str:
        return os.path.join(self.path, name)

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass


def write_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def write_corpus_parquet(corpus, path: str, parts: int = 1) -> None:
    """The generated source-file table as a parquet directory of ``parts``
    files (a multi-file table, so a scan splits across cores): the only form
    in which the program receives the corpus."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    table = pa.table(
        {
            "doc_id": pa.array(corpus.doc_id, type=pa.int64()),
            "repo": corpus.repo,
            "path": corpus.path,
            "lang": corpus.lang,
            "content": corpus.content,
        }
    )
    step = -(-len(corpus) // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))


def stop_spark(spark) -> None:
    """Stop the session and its JVM and wait until the JVM and every process
    it started (Python workers) have exited."""
    import signal

    from pyspark import SparkContext

    kids = descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        # a later session in this process launches a fresh gateway
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=20)
        except Exception:  # noqa: BLE001 — escalate below
            proc.kill()
    for pid in wait_gone(kids, 20):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    wait_gone(kids, 10)


def bundle_stats(bundle: str) -> dict:
    """Postings count (sum of term df) and on-disk postings bytes of a
    published bundle; zeros when the layout lacks either table."""
    import pyarrow.parquet as pq

    terms = os.path.join(bundle, "terms.parquet")
    postings = os.path.join(bundle, "postings.parquet")
    n = 0
    if os.path.isdir(terms):
        n = int(pq.read_table(terms, columns=["df"]).column("df").to_numpy().sum())
    return {
        "index_build.n_postings": n,
        "index_build.postings_bytes": dir_bytes(postings) if os.path.isdir(postings) else 0,
    }
