"""In-memory span recorder that wraps the program's layer entry points from
outside the program.

Each wrapped call records (name, start, end, parent, request id, attrs). The
parent is the innermost open span of the same thread, so one request's spans
nest the way the calls do. Recording is switched per thread, which lets one
run alternate traced and untraced requests and measure the tracing overhead
under identical load. Functions are wrapped at the module binding the caller
resolves, including re-bound imports such as ``search.wand_topk_local``.
"""

from __future__ import annotations

import functools
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    # -- per-thread state -------------------------------------------------

    def begin(self, rid: str | None, on: bool) -> None:
        self._local.rid = rid
        self._local.on = on
        self._local.stack = []

    def end(self) -> None:
        self._local.on = False
        self._local.rid = None

    def on(self) -> bool:
        return getattr(self._local, "on", False)

    @contextmanager
    def span(self, name: str, attrs: dict | None = None, force: bool = False):
        if not (force or self.on()):
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": stack[-1] if stack else None,
            "rid": getattr(self._local, "rid", None),
            "attrs": dict(attrs or {}),
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    # -- wrapping ---------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, before=None, after=None, always=False) -> None:
        """Replace ``owner.attr`` with a recording wrapper. ``before(args,
        kwargs)`` and ``after(result)`` return attrs merged into the span.
        ``always`` records even on threads with recording off (for rare
        events that must all be counted). Plain functions, methods and
        classmethods are supported."""
        raw = owner.__dict__.get(attr) if isinstance(owner, type) else None
        if raw is None:
            raw = getattr(owner, attr)
        is_cm = isinstance(raw, classmethod)
        fn = raw.__func__ if is_cm else raw
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not (always or tracer.on()):
                return fn(*args, **kwargs)
            attrs = before(args, kwargs) if before else None
            with tracer.span(name, attrs, force=always) as rec:
                result = fn(*args, **kwargs)
                if after:
                    rec["attrs"].update(after(result))
                return result

        setattr(owner, attr, classmethod(wrapper) if is_cm else wrapper)
        self._patches.append((owner, attr, raw))

    def restore(self) -> None:
        for owner, attr, raw in reversed(self._patches):
            setattr(owner, attr, raw)
        self._patches.clear()

    def finished(self) -> list[dict]:
        with self._lock:
            return [s for s in self.spans if s["end"] is not None]


def _arg(args, kwargs, i: int, key: str, default=None):
    if key in kwargs:
        return kwargs[key]
    return args[i] if len(args) > i else default


def _job_counter():
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return lambda: 0
    from common import spark_job_count

    return lambda: spark_job_count(sc)


def install_query_layers(tr: Tracer) -> None:
    """search / index_query / codec entry points of the serving path."""
    import google_spark.functions.codec as codec
    import google_spark.operators.index_query as iq
    import google_spark.search as search

    eng = search.SearchEngine
    tr.wrap(eng, "search", "search.search")
    tr.wrap(eng, "_search_uncached", "search.uncached")
    tr.wrap(eng, "_meta_for", "search.meta_read")
    tr.wrap(eng, "_attach_snippets", "search.snippet")
    tr.wrap(eng, "suggest", "search.suggest")
    tr.wrap(eng, "refresh", "search.refresh", always=True)
    tr.wrap(search, "wand_topk_local", "index_query.wand_topk_local")

    def entries_before(args, kwargs):
        terms = list(_arg(args, kwargs, 1, "terms", []))
        cache = _arg(args, kwargs, 2, "row_cache")
        hits = sum(1 for t in terms if cache is not None and t in cache)
        return {"requested": len(terms), "hits": hits}

    tr.wrap(iq, "_entries_for", "index_query.entries", before=entries_before)
    tr.wrap(
        iq, "_fetch_posting_rows", "index_query.fetch",
        after=lambda rows: {"bytes": sum(len(r["postings"]) for r in rows), "rows": len(rows)},
    )
    tr.wrap(
        iq, "_kernel_decoded", "index_query.kernel",
        before=lambda a, k: {"postings_in": sum(len(e["docs"]) for e in _arg(a, k, 0, "entries", []))},
    )
    tr.wrap(iq, "positions_for", "index_query.positions")
    decoded = lambda res: {"postings": len(res[0])}  # noqa: E731
    tr.wrap(iq, "decode_postings_arrays", "codec.decode", after=decoded)
    tr.wrap(codec, "decode_postings_arrays", "codec.decode", after=decoded)
    tr.wrap(codec, "decode_postings_full_np", "codec.decode", after=decoded)


def install_build_layers(tr: Tracer) -> None:
    """index_build / pagerank / catalog entry points, with Spark job counts."""
    import google_spark.operators.catalog as catalog
    import google_spark.operators.index_build as ib
    import google_spark.search as search
    from pyspark.sql.classic.dataframe import DataFrame

    jobs = _job_counter()

    def with_jobs(owner, attr, name):
        holder = {}

        def before(_a, _k):
            holder[threading.get_ident()] = jobs()
            return {}

        def after(_res):
            return {"jobs": jobs() - holder.pop(threading.get_ident(), 0)}

        tr.wrap(owner, attr, name, before=before, after=after)

    with_jobs(search.SearchEngine, "build", "search.build")
    with_jobs(search, "build_index", "index_build.build_index")
    with_jobs(ib, "write_index", "index_build.write_index")
    with_jobs(catalog, "write_index", "index_build.write_index")
    with_jobs(search, "pagerank", "pagerank.pagerank")
    with_jobs(catalog.SnapshotCatalog, "commit_index", "catalog.commit")
    with_jobs(catalog.SnapshotCatalog, "append_docs", "catalog.append")
    with_jobs(catalog.SnapshotCatalog, "delete_docs", "catalog.delete")
    with_jobs(catalog.SnapshotCatalog, "read", "catalog.read")
    # one convergence check (a collect) per PageRank iteration
    tr.wrap(DataFrame, "collect", "spark.collect")


# -- aggregation ---------------------------------------------------------


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id -> duration minus the time its direct children cover."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in spans}


def layer_of(name: str) -> str:
    return name.split(".", 1)[0]


def summarize_query_path(spans: list[dict], n_queries: int) -> dict[str, float]:
    """Per-query means of the query-path layers (time in ms) and counters.
    ``n_queries`` is the number of traced requests the spans came from."""
    n = max(n_queries, 1)
    tot = defaultdict(float)
    cnt = defaultdict(int)
    attrs = defaultdict(float)
    for s in spans:
        d = s["end"] - s["start"]
        tot[s["name"]] += d
        cnt[s["name"]] += 1
        for k, v in s["attrs"].items():
            attrs[(s["name"], k)] += v
    selfs = self_times(spans)
    layer_self = defaultdict(float)
    for s in spans:
        layer_self[layer_of(s["name"])] += selfs[s["id"]]
    searches = cnt["search.search"]
    requested = attrs[("index_query.entries", "requested")]
    return {
        "search.ms": 1e3 * tot["search.search"] / n,
        "search.result_cache_hit_ratio": (
            1.0 - cnt["search.uncached"] / searches if searches else 0.0
        ),
        "search.uncached_ms": 1e3 * tot["search.uncached"] / n,
        "search.meta_read_ms": 1e3 * tot["search.meta_read"] / n,
        "search.snippet_ms": 1e3 * tot["search.snippet"] / n,
        "search.suggest_ms": 1e3 * tot["search.suggest"] / n,
        "search.self_ms": 1e3 * layer_self["search"] / n,
        "index_query.fetch_ms": 1e3 * tot["index_query.fetch"] / n,
        "index_query.fetch_bytes_per_query": attrs[("index_query.fetch", "bytes")] / n,
        "index_query.postings_cache_hit_ratio": (
            attrs[("index_query.entries", "hits")] / requested if requested else 0.0
        ),
        "index_query.kernel_ms": 1e3 * tot["index_query.kernel"] / n,
        "index_query.postings_in_per_query": attrs[("index_query.kernel", "postings_in")] / n,
        "index_query.positions_ms": 1e3 * tot["index_query.positions"] / n,
        "index_query.self_ms": 1e3 * layer_self["index_query"] / n,
        "codec.decode_ms": 1e3 * tot["codec.decode"] / n,
        "codec.postings_decoded": attrs[("codec.decode", "postings")] / n,
        "server.self_ms": 1e3 * layer_self["server"] / n,
    }


def summarize_build_path(spans: list[dict]) -> dict[str, float]:
    """Totals of the build-path layers over one run."""
    tot = defaultdict(float)
    cnt = defaultdict(int)
    jobs = defaultdict(int)
    for s in spans:
        tot[s["name"]] += s["end"] - s["start"]
        cnt[s["name"]] += 1
        jobs[s["name"]] += s["attrs"].get("jobs", 0)
    pr_ids = {s["id"] for s in spans if s["name"] == "pagerank.pagerank"}
    iterations = sum(
        1 for s in spans if s["name"] == "spark.collect" and s["parent"] in pr_ids
    )
    refreshes = cnt["search.refresh"]
    return {
        "index_build.build_index_s": tot["index_build.build_index"],
        "index_build.write_s": tot["index_build.write_index"],
        "pagerank.s": tot["pagerank.pagerank"],
        "pagerank.iterations": iterations,
        "pagerank.spark_jobs": jobs["pagerank.pagerank"],
        "catalog.append_s": (
            tot["catalog.append"] / cnt["catalog.append"] if cnt["catalog.append"] else 0.0
        ),
        "catalog.delete_s": (
            tot["catalog.delete"] / cnt["catalog.delete"] if cnt["catalog.delete"] else 0.0
        ),
        "search.refresh_count": refreshes,
        "search.refresh_ms": 1e3 * tot["search.refresh"] / refreshes if refreshes else 0.0,
    }


def to_jsonable(spans: list[dict]) -> list[dict]:
    return [
        {k: s[k] for k in ("id", "name", "start", "end", "parent", "rid", "attrs")}
        for s in spans
    ]
