"""``serve_cold``: HTTP load against ``jobs/serve.py``.

The server runs in its own process on a bundle published by
``SearchEngine.save`` (built once per checkout by build_bundle.py, outside
every timed run). This process is the only load source: one dispatcher
thread and at most ``CONNS`` connection threads.

Each run, after a warm-up that is not timed, alternates ``SLICES`` times:

1. open loop: requests at a seeded Poisson schedule of ``RATE`` per second,
   85% of ``--seconds`` in all; each latency is measured from the request's
   due time, so a stall also delays the requests queued behind it, and the
   dispatcher's own lateness is reported;
2. closed loop: ``CONNS`` connections send back to back, the remaining 15%;
   completions per second of busy time, per slice.

Latency and throughput are medians over slices (see
``common.sliced_latency``), so a slow phase of a shared machine or one
garbage-collection pause in a minority of the run does not move them.

Every timed request is a distinct query never seen before, so it misses the
result cache and reads postings, meta and docstore rows.
"""

from __future__ import annotations

import gc
import hashlib
import json
import os
import pickle
import queue
import random
import shutil
import signal
import socket
import subprocess
import sys
import threading
import time
from dataclasses import dataclass
from urllib.parse import urlencode

from check import Checker
from common import (
    CACHE_ROOT,
    ROOT,
    descendants,
    log,
    median,
    proc_hwm_mb,
    sliced_latency,
    tail_percentile,
    wait_gone,
)
from gen import COLD_MIX, QueryGen, arrivals, warmup_queries
from spans import summarize_query_path

SERVE_DOCS = 8000
SERVE_CORPUS_SEED = 20241016
K = 10
CONNS = 3
WARMUP_EACH = 10
OPEN_SHARE = 0.85
SLICES = 10
RATE = 10.0
CHECK_SAMPLE = 300
HEALTH_TIMEOUT_S = 150.0
BUILD_TIMEOUT_S = 700.0
REQUEST_TIMEOUT_S = 30.0


# -- bundle ----------------------------------------------------------------


def _cache_key() -> str:
    """Digest of everything the bundle depends on: the program's sources and
    the generator and build_bundle.py, so a changed checkout never serves a
    stale one."""
    h = hashlib.sha1(f"{SERVE_DOCS}:{SERVE_CORPUS_SEED}".encode())
    files = [os.path.join(ROOT, "perfbench", n) for n in ("gen.py", "check.py", "build_bundle.py")]
    for base in ("google_spark", "jobs"):
        for root, _dirs, names in os.walk(os.path.join(ROOT, base)):
            files += [os.path.join(root, n) for n in names if n.endswith(".py")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def ensure_bundle(env: dict) -> tuple[str, dict, object, Checker]:
    """(bundle dir, build.json, corpus, checker) — building the bundle first if
    this checkout has none."""
    final = os.path.join(CACHE_ROOT, f"serve-{_cache_key()}")
    if not os.path.exists(os.path.join(final, "build.json")):
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        log(f"building serve bundle ({SERVE_DOCS} docs) into {os.path.relpath(final, ROOT)}")
        proc = subprocess.Popen(
            [sys.executable, os.path.join(ROOT, "perfbench", "build_bundle.py"),
             "--out", tmp, "--docs", str(SERVE_DOCS), "--corpus-seed", str(SERVE_CORPUS_SEED)],
            env=env, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
        )
        try:
            _out, err = proc.communicate(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            _stop_tree(proc)
            raise
        if proc.returncode != 0:
            raise RuntimeError(f"bundle build failed:\n{err.decode()[-4000:]}")
        try:
            os.rename(tmp, final)
        except OSError:  # another run published it first
            shutil.rmtree(tmp, ignore_errors=True)
    with open(os.path.join(final, "build.json")) as f:
        build = json.load(f)
    gc.disable()  # the collector would rescan the growing object graph ~8x
    try:
        with open(os.path.join(final, "inputs.pkl"), "rb") as f:
            corpus, checker = pickle.load(f)
    finally:
        gc.enable()
    return os.path.join(final, "bundle"), build, corpus, checker


def read_through(path: str) -> None:
    """Read every file under ``path`` once, so the bundle sits in the page
    cache before the server starts, whatever the previous run evicted."""
    for root, _dirs, names in os.walk(path):
        for n in names:
            with open(os.path.join(root, n), "rb") as f:
                while f.read(1 << 20):
                    pass


# -- server process --------------------------------------------------------


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _stop_tree(proc: subprocess.Popen) -> None:
    """SIGTERM the process, then wait until it and every descendant (the
    Spark JVM) have exited; SIGKILL whatever outlives the grace period."""
    kids = descendants(proc.pid)
    if proc.poll() is None:
        proc.send_signal(signal.SIGTERM)
        try:
            proc.wait(timeout=15)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    for pid in wait_gone(kids, 15):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    wait_gone(kids, 15)


class Server:
    def __init__(self, bundle: str, env: dict, log_path: str, traced: bool):
        script = "perfbench/traced_serve.py" if traced else "jobs/serve.py"
        self.port = _free_port()
        self.cmd = [sys.executable, os.path.join(ROOT, script),
                    "--bundle", bundle, "--port", str(self.port)]
        self.env = env
        self.log_path = log_path
        self.proc: subprocess.Popen | None = None

    def start(self) -> float:
        """Launch and wait for the first /health 200; returns seconds taken."""
        with open(self.log_path, "ab") as logf:
            t0 = time.perf_counter()
            self.proc = subprocess.Popen(self.cmd, env=self.env, stdout=logf, stderr=logf)
        while True:
            if self.proc.poll() is not None:
                raise RuntimeError(f"server exited with {self.proc.returncode}")
            try:
                status, _ = http_get(self.port, "/health", {}, timeout=1.0)
                if status == 200:
                    return time.perf_counter() - t0
            except OSError:
                pass
            if time.perf_counter() - t0 > HEALTH_TIMEOUT_S:
                raise RuntimeError("server did not become healthy")
            time.sleep(0.01)

    def stop(self) -> None:
        if self.proc is not None:
            _stop_tree(self.proc)


def http_get(port: int, path: str, headers: dict, timeout: float = REQUEST_TIMEOUT_S):
    """One HTTP/1.0 GET on a fresh connection (the server closes after each
    response); returns (status, body). A raw socket keeps the load
    generator's own cost per request small next to the server's."""
    head = "".join(f"{k}: {v}\r\n" for k, v in headers.items())
    req = f"GET {path} HTTP/1.0\r\nHost: 127.0.0.1\r\n{head}\r\n".encode()
    with socket.create_connection(("127.0.0.1", port), timeout=timeout) as sock:
        sock.sendall(req)
        chunks = []
        while data := sock.recv(65536):
            chunks.append(data)
    raw = b"".join(chunks)
    sep = raw.find(b"\r\n\r\n")
    if sep < 0:
        raise ConnectionError("truncated HTTP response")
    return int(raw[9:12]), raw[sep + 4:]


# -- load ------------------------------------------------------------------


@dataclass
class Req:
    idx: int
    query: object
    due: float
    traced: bool = False
    sent: float = 0.0
    done: float = 0.0
    status: int = 0
    body: bytes = b""

    @property
    def ok(self) -> bool:
        return self.status == 200


def _send(port: int, r: Req) -> None:
    path = "/search?" + urlencode({"query": r.query.text, "pageSize": K, "snippets": "true"})
    headers = {"X-Bench-Rid": str(r.idx)}
    if r.traced:
        headers["X-Bench-Trace"] = "1"
    r.sent = time.perf_counter()
    try:
        r.status, r.body = http_get(port, path, headers)
    except OSError:
        r.status = -1
    r.done = time.perf_counter()


def open_loop(port: int, queries: list, offsets, trace: bool, first_idx: int):
    """Dispatch ``queries[i]`` at ``t0 + offsets[i]`` to ``CONNS`` connection
    threads. Returns the requests and the dispatcher's lateness per request."""
    work: queue.SimpleQueue = queue.SimpleQueue()

    def worker():
        while (r := work.get()) is not None:
            _send(port, r)

    threads = [threading.Thread(target=worker, daemon=True) for _ in range(CONNS)]
    for t in threads:
        t.start()
    reqs, late = [], []
    t0 = time.perf_counter() + 0.01
    for i, (q, off) in enumerate(zip(queries, offsets), start=first_idx):
        due = t0 + float(off)
        delay = due - time.perf_counter()
        if delay > 0:
            time.sleep(delay)
        late.append(time.perf_counter() - due)
        r = Req(i, q, due, traced=trace and i % 2 == 0)
        reqs.append(r)
        work.put(r)
    for _ in threads:
        work.put(None)
    for t in threads:
        t.join()
    return reqs, late


def closed_loop(port: int, take, seconds: float, first_idx: int) -> tuple[list[Req], float]:
    """``CONNS`` connections send back to back for ``seconds``, each taking
    its next query from ``take()`` (None ends that connection); returns the
    requests and the busy time, from start until the last completion."""
    lock = threading.Lock()
    reqs: list[Req] = []
    start = time.perf_counter()
    deadline = start + seconds

    def worker():
        while time.perf_counter() < deadline:
            with lock:
                q = take()
                r = Req(first_idx + len(reqs), q, time.perf_counter())
                reqs.append(r)
            if q is None:
                return
            _send(port, r)

    threads = [threading.Thread(target=worker, daemon=True) for _ in range(CONNS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    reqs = [r for r in reqs if r.query is not None]
    return reqs, max((r.done for r in reqs), default=deadline) - start


def measure(port: int, open_queries: list, offsets, take, open_s: float, closed_s: float, trace: bool):
    """``SLICES`` rounds of (open loop for ``open_s / SLICES``, closed loop for
    ``closed_s / SLICES``), so both measurements sample the whole run rather
    than one end of it. Returns the requests of each kind, the dispatcher's
    lateness, the open-loop latencies (ms) per slice and the closed-loop
    throughput per slice. The client's garbage collector is paused
    meanwhile, so its pauses do not show up as server latency."""
    open_reqs, closed_reqs, late, lat_slices, qps_slices = [], [], [], [], []
    step = open_s / SLICES
    gc.collect()
    gc.freeze()
    gc.disable()
    try:
        for k in range(SLICES):
            sel = [i for i, off in enumerate(offsets) if k * step <= off < (k + 1) * step]
            reqs, lt = open_loop(
                port, [open_queries[i] for i in sel], [offsets[i] - k * step for i in sel],
                trace, len(open_reqs) + len(closed_reqs),
            )
            open_reqs += reqs
            late += lt
            lat_slices.append([(r.done - r.due) * 1e3 for r in reqs if r.ok])
            reqs, busy = closed_loop(port, take, closed_s / SLICES, len(open_reqs) + len(closed_reqs))
            closed_reqs += reqs
            qps_slices.append(sum(1 for r in reqs if r.ok) / busy)
    finally:
        gc.enable()
        gc.unfreeze()
    return open_reqs, closed_reqs, late, lat_slices, qps_slices


def warm(port: int, queries: list) -> int:
    """Send every warm-up query once over ``CONNS`` connections; returns the
    number of non-200 answers."""
    it = iter(enumerate(queries))
    lock = threading.Lock()
    bad = [0]

    def worker():
        while True:
            with lock:
                nxt = next(it, None)
            if nxt is None:
                return
            r = Req(-1 - nxt[0], nxt[1], time.perf_counter())
            _send(port, r)
            if not r.ok:
                with lock:
                    bad[0] += 1

    threads = [threading.Thread(target=worker, daemon=True) for _ in range(CONNS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return bad[0]


# -- run -------------------------------------------------------------------


def run(seed: int, seconds: float, trace: bool, work) -> dict:
    env = work.env()
    bundle, build, corpus, checker = ensure_bundle(env)
    used: set[str] = set()
    warmup = warmup_queries(QueryGen(corpus, seed, 1, used), COLD_MIX, WARMUP_EACH)
    open_s = seconds * OPEN_SHARE
    closed_s = seconds - open_s
    offsets = arrivals(RATE, open_s, seed)
    cold = QueryGen(corpus, seed, 3, used).distinct(len(offsets) + int(closed_s * 400) + 100, COLD_MIX)
    open_queries = cold[: len(offsets)]
    rest = iter(cold[len(offsets):])

    read_through(bundle)
    server = Server(bundle, env, work.sub("server.log"), traced=trace)
    jobs0 = jobs1 = 0
    spans = []
    try:
        setup_s = server.start()
        log(f"server healthy after {setup_s:.1f}s")
        warm_bad = warm(server.port, warmup)
        log(f"warm-up: {len(warmup)} queries")
        if trace:
            jobs0 = json.loads(http_get(server.port, "/_bench/jobs", {})[1])["jobs"]
        open_reqs, closed_reqs, late, lat_slices, qps_slices = measure(
            server.port, open_queries, offsets, lambda: next(rest, None), open_s, closed_s, trace
        )
        rss_mb = proc_hwm_mb(server.proc.pid)
        if trace:
            jobs1 = json.loads(http_get(server.port, "/_bench/jobs", {})[1])["jobs"]
            spans = json.loads(http_get(server.port, "/_bench/spans", {})[1])
    finally:
        server.stop()
    log("server stopped")

    # correctness: every status, plus a seeded sample of bodies vs the oracle
    reqs = open_reqs + closed_reqs
    failed_ids = {r.idx for r in reqs if not r.ok}
    ok_reqs = [r for r in reqs if r.ok]
    sample = random.Random(seed).sample(ok_reqs, min(CHECK_SAMPLE, len(ok_reqs)))
    mismatches = []
    for r in sample:
        errs = checker.results(r.query, json.loads(r.body)["results"], K)
        if errs:
            failed_ids.add(r.idx)
            mismatches += errs
    # the bundle's in-process wand_topk_local checks count as operations too
    attempted = len(reqs) + build["wand_checked"]
    failed = len(failed_ids) + min(len(build["wand_errors"]), build["wand_checked"])
    mismatches += build["wand_errors"]

    p50, p_used, p99 = sliced_latency(lat_slices)
    log(f"checked {len(sample)} responses")
    out = {
        "attempted": attempted,
        "failed": failed,
        "mismatches": mismatches,
        "e2e": {
            "setup_s": setup_s,
            "query_p50_ms": p50,
            "query_p99_ms": p99,
            "serve_qps": median(qps_slices),
            "peak_rss_mb": rss_mb,
            "bundle_bytes_per_input_byte": build["bundle_bytes"] / build["input_bytes"],
        },
        "extra": {
            "tail_percentile": p_used,
            "open_loop_samples": sum(len(x) for x in lat_slices),
            "slices": SLICES,
            "open_loop_rate_per_s": RATE,
            "closed_loop_connections": CONNS,
            "closed_loop_requests": len(closed_reqs),
            "warmup_queries": len(warmup),
            "warmup_non_200": warm_bad,
            "lateness_p50_ms": median(late) * 1e3,
            "lateness_max_ms": max(late) * 1e3,
            "corpus_docs": len(corpus),
            "corpus_bytes": build["input_bytes"],
            "corpus_vocabulary": int((corpus.df > 0).sum()),
            "distinct_queries": len(cold),
            "build_docs_per_s": build["docs"] / build["build_s"],
            "wand_checked_at_build": build["wand_checked"],
            "responses_checked": len(sample),
        },
    }
    if trace:
        out["bundle"] = {
            "index_build.n_postings": build["index_build.n_postings"],
            "index_build.postings_bytes": build["index_build.postings_bytes"],
        }
        out["spans"] = spans
        out["layers"] = _serve_layers(open_reqs, spans, late, jobs1 - jobs0, len(reqs))
    return out


def _serve_layers(open_reqs, spans, late, jobs, n_queries) -> dict:
    traced = [r for r in open_reqs if r.traced and r.ok]
    plain = [r for r in open_reqs if not r.traced and r.ok]
    layers = summarize_query_path(spans, len(traced))
    search_s = {}
    for s in spans:
        if s["name"] == "search.search":
            search_s[s["rid"]] = search_s.get(s["rid"], 0.0) + s["end"] - s["start"]
    overhead = [
        (r.done - r.sent - search_s[str(r.idx)]) * 1e3 for r in traced if str(r.idx) in search_s
    ]
    layers.update(
        {
            "server.overhead_ms": median(overhead) if overhead else 0.0,
            "spark.jobs_per_query": jobs / max(n_queries, 1),
            "trace.overhead_ms": (
                median([(r.done - r.due) * 1e3 for r in traced])
                - median([(r.done - r.due) * 1e3 for r in plain])
            ),
            "trace.spans": len(spans),
            "loadgen.late_p99_ms": tail_percentile([x * 1e3 for x in late])[1],
        }
    )
    return layers
