"""``index_ingest``: build + publish, then live appends and deletes beside a
reader, all in this process on one Spark session.

Phase A: ``SearchEngine.build(with_pagerank=True)`` on the base corpus, and
its index published as the first snapshot of a ``SnapshotCatalog``
(``commit_index``, which writes it with ``write_index``):
``build_docs_per_s``, ``bundle_bytes_per_input_byte`` (the published
segment). ``SearchEngine.save`` is not called per run: it writes the same
index a second time (~8 s); the serve bundle's build still runs it.

Phase B: one closed-loop reader thread queries a
``SearchEngine.from_catalog`` engine (snippets off) for ``--seconds`` (longer
if a commit or a marker is still pending) while the writer commits
``append_docs`` batches, each followed by a ``delete_docs`` commit: at least
``MIN_BATCHES``, and another only while it is expected (from the last
batch's time) to end within ``--seconds``, so a run's work does not depend
on how fast the machine happens to be near that limit.
Each batch carries a unique marker term; the reader polls for the oldest
unseen marker every ``MARKER_POLL_S`` and ``freshness`` is the time from
``append_docs`` start to the first response containing it. After each
delete commit the reader probes the deleted documents' rarest terms.

``query_p50_ms``/``query_p99_ms``/``serve_qps`` are over the reader's
query-log requests only (marker polls and delete probes excluded), so the
mix does not depend on how long a commit takes; they are medians over
one-second windows (see ``common.sliced_latency``).
"""

from __future__ import annotations

import os
import random
import threading
import time

from check import Checker
from common import (
    bundle_stats,
    dir_bytes,
    log,
    median,
    proc_hwm_mb,
    sliced_latency,
    spark_job_count,
    stop_spark,
    write_corpus_parquet,
)
from gen import INGEST_MIX, CorpusGen, Query, QueryGen, marker
from spans import (
    Tracer,
    install_build_layers,
    install_query_layers,
    summarize_build_path,
    summarize_query_path,
    to_jsonable,
)

BASE_DOCS = 800
BATCH_DOCS = 100
MIN_BATCHES = 1
MAX_BATCHES = 20
DELETES_PER_BATCH = 5
K = 10
MARKER_POLL_S = 0.02
FRESHNESS_TIMEOUT_S = 20.0
CHECK_SAMPLE = 80
WAND_CHECK = 20
READER_LOG = 20000
READER_JOB_GROUP = "perfbench-reader"
WINDOW_S = 1.0


class Reader(threading.Thread):
    """Closed-loop reader: one request at a time, back to back."""

    def __init__(self, engine, catalog, log: list[Query], tracer: Tracer | None):
        super().__init__(daemon=True)
        self.engine = engine
        self.catalog = catalog
        self.log = log
        self.tracer = tracer
        self.stop = threading.Event()
        self.lock = threading.Lock()
        self.pending: dict[str, tuple[int, float]] = {}  # marker -> (batch, append start)
        self.probes: list[Query] = []
        self.responses: list[dict] = []
        self.fresh: dict[int, float] = {}  # batch -> seconds to visibility
        self.error: BaseException | None = None

    def _ask(self, q: Query, kind: str, traced: bool) -> dict:
        rid = f"r{len(self.responses)}"
        v0 = self.catalog.head()
        if self.tracer is not None:
            self.tracer.begin(rid, traced)
        t0 = time.perf_counter()
        try:
            res = self.engine.search(q.text, k=K, snippets=False)
        finally:
            t1 = time.perf_counter()
            if self.tracer is not None:
                self.tracer.end()
        v1 = self.catalog.head()
        rec = {
            "rid": rid, "q": q, "kind": kind, "start": t0, "end": t1, "traced": traced,
            # the served snapshot is known exactly when HEAD did not move
            "version": v0 if v0 == v1 else None,
            "rows": [{"doc_id": r.doc_id, "score": r.score, "priority": r.priority} for r in res],
        }
        self.responses.append(rec)
        return rec

    def run(self) -> None:
        # tag this thread's Spark jobs so they can be told from the writer's
        self.engine.index.postings.sparkSession.sparkContext.setJobGroup(
            READER_JOB_GROUP, "benchmark reader", False
        )
        try:
            i = 0
            last_poll = 0.0
            while not self.stop.is_set() and i < len(self.log):
                self._ask(self.log[i], "log", traced=i % 2 == 0)
                i += 1
                with self.lock:
                    oldest = min(self.pending.items(), key=lambda kv: kv[1][0], default=None)
                    probe = self.probes.pop(0) if self.probes else None
                if oldest and time.perf_counter() - last_poll >= MARKER_POLL_S:
                    last_poll = time.perf_counter()
                    mk, (batch, started) = oldest
                    rec = self._ask(Query(mk, "marker", (mk,)), "marker", traced=False)
                    if rec["rows"]:
                        with self.lock:
                            self.fresh[batch] = rec["end"] - started
                            del self.pending[mk]
                if probe is not None:
                    self._ask(probe, "probe", traced=False)
        except BaseException as exc:  # noqa: BLE001 — reported by the writer thread
            self.error = exc


def _rarest_term(content: str, df: dict[str, int]) -> str:
    words = [w for w in content.split() if w in df]
    return min(words, key=lambda w: (df[w], w))


def run(seed: int, seconds: float, trace: bool, work) -> dict:
    work.apply_env()
    gen = CorpusGen(seed)
    base = gen.docs(1, BASE_DOCS)
    words_df = {w: int(d) for w, d in zip(base.words, base.df) if d}
    log_queries = QueryGen(base, seed, 4).distinct(READER_LOG, INGEST_MIX)
    rng = random.Random(seed)
    base_path = work.sub("input/base")
    write_corpus_parquet(base, base_path, parts=8)

    t0 = time.perf_counter()
    from google_spark.operators.catalog import SnapshotCatalog
    from google_spark.operators.index_query import wand_topk_local
    from google_spark.search import SearchEngine
    from google_spark.session import get_spark

    spark = get_spark(app="perfbench-ingest")
    setup_s = time.perf_counter() - t0
    sc = spark.sparkContext
    tracer = None
    if trace:
        tracer = Tracer()
        install_query_layers(tracer)
        install_build_layers(tracer)
        tracer.begin(None, True)
    try:
        # -- phase A: build + publish the first snapshot -------------------
        jobs0 = spark_job_count(sc)
        t = time.perf_counter()
        engine_a = SearchEngine.build(spark, spark.read.parquet(base_path), with_pagerank=True)
        catalog = SnapshotCatalog(work.sub("catalog"))
        versions = {catalog.commit_index(engine_a.index): 0}  # version -> batches in it
        build_s = time.perf_counter() - t
        segment = os.path.join(catalog.root, catalog.manifest().segments[0])
        bundle_bytes = dir_bytes(segment)
        bstats = bundle_stats(segment)
        build_jobs = spark_job_count(sc) - jobs0
        log(f"phase A: build+publish {build_s:.1f}s, {build_jobs} Spark jobs")

        # -- phase B: live writes beside one reader ------------------------
        reader_engine = SearchEngine.from_catalog(spark, catalog)
        reader = Reader(reader_engine, catalog, log_queries, tracer)
        batches, deleted_at, append_s, delete_s = [], {}, [], []
        reader.start()
        t_b = time.perf_counter()
        b = 0
        while b < MIN_BATCHES or (
            time.perf_counter() - t_b + append_s[-1] <= seconds and b < MAX_BATCHES
        ):
            mk = marker(seed, b)
            batch = gen.docs(1_000_000 + b * BATCH_DOCS, BATCH_DOCS, marker=mk)
            path = work.sub(f"input/batch{b}")
            write_corpus_parquet(batch, path)
            df = spark.read.parquet(path)
            with reader.lock:
                reader.pending[mk] = (b, time.perf_counter())
            ts = time.perf_counter()
            v = catalog.append_docs(spark, df, text_col="content")
            append_s.append(time.perf_counter() - ts)
            log(f"phase B: append {b} took {append_s[-1]:.1f}s")
            batches.append(batch)
            versions[v] = len(batches)
            victims = rng.sample(
                [d for d in base.doc_id if d not in deleted_at], DELETES_PER_BATCH
            )
            ts = time.perf_counter()
            v = catalog.delete_docs(victims)
            done = time.perf_counter()
            delete_s.append(done - ts)
            versions[v] = len(batches)
            for d in victims:
                deleted_at[d] = (done, v)
            with reader.lock:
                reader.probes += [
                    Query(t, "tail", (t,))
                    for t in {_rarest_term(base.content[d - 1], words_df) for d in victims}
                ]
            b += 1
            if reader.error is not None:
                raise reader.error
        deadline = time.perf_counter() + FRESHNESS_TIMEOUT_S
        while (
            reader.pending or time.perf_counter() - t_b < seconds
        ) and time.perf_counter() < deadline and reader.is_alive():
            time.sleep(0.01)
        reader.stop.set()
        reader.join(timeout=60)
        phase_b_s = time.perf_counter() - t_b
        log(f"phase B: {phase_b_s:.1f}s, {len(reader.responses)} reader requests")
        if reader.error is not None:
            raise reader.error
        ingest_jobs = spark_job_count(sc) - jobs0 - build_jobs
        reader_jobs = len(sc.statusTracker().getJobIdsForGroup(READER_JOB_GROUP))
        rss_mb = proc_hwm_mb(os.getpid())
        final_index = catalog.read(spark)
        spans = tracer.finished() if tracer else []
        if tracer is not None:
            tracer.end()
            tracer.restore()

        # -- correctness ---------------------------------------------------
        all_docs = list(zip(base.doc_id, base.content))
        for bt in batches:
            all_docs += list(zip(bt.doc_id, bt.content))
        oracles: dict[int, Checker] = {}

        def checker_for(n_batches: int) -> Checker:
            if n_batches not in oracles:
                n = BASE_DOCS + n_batches * BATCH_DOCS
                oracles[n_batches] = Checker(all_docs[:n])
            return oracles[n_batches]

        def deleted_in(version: int) -> frozenset:
            return frozenset(d for d, (_t, v) in deleted_at.items() if v <= version)

        mismatches, failed_ops = [], 0
        resp = reader.responses
        # a deleted doc returned by a request that started after its delete
        # commit returned is an error, whatever the request
        for r in resp:
            bad = [x["doc_id"] for x in r["rows"]
                   if x["doc_id"] in deleted_at and deleted_at[x["doc_id"]][0] < r["start"]]
            if bad:
                failed_ops += 1
                mismatches.append(f"{r['q'].text!r}: deleted docs {bad} returned")
        known = [r for r in resp if r["version"] is not None and r["kind"] != "marker"]
        for r in random.Random(seed + 1).sample(known, min(CHECK_SAMPLE, len(known))):
            errs = checker_for(versions[r["version"]]).results(
                r["q"], r["rows"], K, deleted_in(r["version"])
            )
            if errs:
                failed_ops += 1
                mismatches += errs
        missing = [mk for mk in reader.pending]
        failed_ops += len(missing)
        mismatches += [f"marker {mk} never became visible" for mk in missing]
        final = checker_for(len(batches))
        final_deleted = frozenset(deleted_at)
        wand_qs = QueryGen(base, seed, 5).distinct(WAND_CHECK, {"tail": 0.5, "multi": 0.5})
        for q in wand_qs:
            errs = final.topk(q, wand_topk_local(final_index, q.text, k=K), K, final_deleted)
            if errs:
                failed_ops += 1
                mismatches += errs
    finally:
        stop_spark(spark)

    logs = [r for r in resp if r["kind"] == "log"]
    lat_slices, qps_slices = _windows(logs)
    p50, p_used, p99 = sliced_latency(lat_slices)
    fresh = list(reader.fresh.values())
    out = {
        "attempted": len(resp) + len(batches) * 2 + 1 + len(wand_qs),
        "failed": failed_ops,
        "mismatches": mismatches,
        "e2e": {
            "setup_s": setup_s,
            "query_p50_ms": p50,
            "query_p99_ms": p99,
            "serve_qps": median(qps_slices),
            "peak_rss_mb": rss_mb,
            "bundle_bytes_per_input_byte": bundle_bytes / base.n_bytes(),
        },
        "extra": {
            "tail_percentile": p_used,
            "reader_samples": len(logs),
            "reader_windows": len(qps_slices),
            "reader_connections": 1,
            "build_docs_per_s": BASE_DOCS / build_s,
            "append_p50_s": median(append_s),
            "delete_p50_s": median(delete_s),
            "freshness_p50_s": median(fresh) if fresh else float("nan"),
            "batches": len(batches),
            "batch_docs": BATCH_DOCS,
            "deleted_docs": len(deleted_at),
            "corpus_docs": BASE_DOCS,
            "corpus_bytes": base.n_bytes(),
            "corpus_vocabulary": len(words_df),
            "distinct_queries": len(log_queries),
            "responses_checked": min(CHECK_SAMPLE, len(known)),
            "wand_checked": len(wand_qs),
            "spark_build_jobs": build_jobs,
            "spark_ingest_jobs": ingest_jobs,
            "spark_reader_jobs": reader_jobs,
        },
    }
    if trace:
        traced_logs = [r for r in logs if r["traced"]]
        rids = {r["rid"] for r in traced_logs}
        layers = summarize_query_path([s for s in spans if s["rid"] in rids], len(traced_logs))
        layers.update(summarize_build_path(spans))
        layers.update(bstats)
        extra = out["extra"]
        layers.update(
            {
                "build_docs_per_s": extra["build_docs_per_s"],
                "append_p50_s": extra["append_p50_s"],
                "freshness_p50_s": median(fresh) if fresh else 0.0,
                "spark.jobs_per_query": reader_jobs / max(len(resp), 1),
                "spark.build_jobs": build_jobs,
                "spark.ingest_jobs": ingest_jobs,
                "catalog.segments": len(catalog.manifest().segments),
                "trace.overhead_ms": (
                    median([(r["end"] - r["start"]) * 1e3 for r in traced_logs])
                    - median([(r["end"] - r["start"]) * 1e3 for r in logs if not r["traced"]])
                ),
                "trace.spans": len(spans),
            }
        )
        out["layers"] = layers
        out["spans"] = to_jsonable(spans)
    return out


def _windows(reqs: list[dict]) -> tuple[list[list[float]], list[float]]:
    """Reader latencies (ms) per ``WINDOW_S`` window of start time, and the
    requests per second of every complete window."""
    t0 = reqs[0]["start"]
    n = int((reqs[-1]["start"] - t0) // WINDOW_S) + 1
    lat: list[list[float]] = [[] for _ in range(n)]
    for r in reqs:
        lat[int((r["start"] - t0) // WINDOW_S)].append((r["end"] - r["start"]) * 1e3)
    full = lat[:-1] if n > 1 else lat
    return lat, [len(w) / WINDOW_S for w in full]
