"""Zero-dependency HTTP JSON serving layer over :class:`SearchEngine` —
the analog of the reference's route surface (ref:
src/cis5550/jobs/SearchApi.java:90-95 registers GET /search, /autocomplete,
/synonym, /emptyquery; searchHandler at :248-320 reads query/pageSize/
pageNum and returns titles + urls + snippets). JSON only — the reference's
HTML pages are presentation, not engine semantics.

stdlib ``http.server`` is deliberate: with a bundle-loaded engine
(:meth:`SearchEngine.load`) a request touches no Spark job at all (postings,
meta, vocabulary and snippets are pyarrow point reads), so the serving tier
needs no web framework and no cluster round-trip. Loading the bundle starts
no JVM either: the engine's tables are lazy parquet handles, and the Spark
session opens only when a distributed route first runs — /grep, /symbol,
the autocomplete scan past the trie cap, /synonym with word vectors, and
the in-memory fallbacks of an engine that was not loaded from a bundle.
Engine calls are serialized with a lock — the engine's driver-side caches
are plain dicts, and correctness beats a microsecond of handler concurrency.
"""

from __future__ import annotations

import json
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse


def _result_json(r) -> dict:
    return {
        "doc_id": r.doc_id,
        "score": r.score,
        "priority": r.priority,
        "rank": r.rank,
        "path": r.path,
        "title": r.title,
        "snippet": r.snippet,
    }


def make_handler(engine):
    lock = threading.Lock()
    # /grep and /symbol ALWAYS run a distributed Spark job; holding the
    # shared engine lock for their duration would stall every concurrent
    # /search//autocomplete/… for seconds. The staleness check (which can
    # mutate engine state) stays under the shared lock; the job itself
    # runs under this separate lock — they serialize among themselves
    # (Spark driver scheduling) but never block the point-read routes.
    # They can run lock-free because every engine object they read
    # (docstore DataFrame, trigram/fielded index, tombstone accumulator)
    # is published atomically and only in a delete-consistent state —
    # refresh() builds new indexes WITH tombstones attached before
    # assigning them (see SearchEngine.refresh). The OTHER routes stay
    # under the engine lock even on their cold paths (/facets or /fuzzy
    # on an engine with NO published bundle fall back to Spark jobs /
    # vocabulary builds) because those paths mutate the shared caches
    # (_postings_cache, meta, suggester) — the serving deployment this
    # server is documented for (a published bundle) keeps them point-read
    # fast; an in-memory engine accepts head-of-line blocking there.
    grep_lock = threading.Lock()

    class Handler(BaseHTTPRequestHandler):
        def _json(self, code: int, obj) -> None:
            body = json.dumps(obj).encode("utf-8")
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _scored_hits(self, q, qs, fn) -> None:
            """Shared envelope for the term-level retrieval routes
            (/boolean /fuzzy /wildcard /regexpterm): empty-query check,
            limit parse, engine call under the lock, and the
            {query, results:[{doc_id, score}]} serialization. A bad
            user pattern (wildcard or regexp) surfaces as 400."""
            if not q.strip():
                return self._json(400, {"error": "empty query"})
            k = int((qs.get("limit") or ["10"])[0])
            try:
                with lock:
                    hits = fn(q, k)
            except re.error as exc:
                return self._json(400, {"error": f"bad regex: {exc}"})
            return self._json(
                200,
                {
                    "query": q,
                    "results": [{"doc_id": d, "score": s} for d, s in hits],
                },
            )

        def do_GET(self) -> None:  # noqa: N802 — http.server API
            u = urlparse(self.path)
            qs = parse_qs(u.query)
            q = (qs.get("query") or [""])[0]
            try:
                if u.path == "/health":
                    return self._json(200, {"ok": True})
                if u.path == "/search":
                    if not q.strip():
                        # the reference routes empty queries to /emptyquery
                        return self._json(400, {"error": "empty query"})
                    page = int((qs.get("pageNum") or ["1"])[0])
                    size = int((qs.get("pageSize") or ["10"])[0])
                    snippets = (qs.get("snippets") or ["true"])[0] != "false"
                    proximity = (qs.get("proximity") or ["false"])[0] == "true"
                    synonyms = (qs.get("synonyms") or ["false"])[0] == "true"
                    # fielded=true -> BM25F from the bundle's per-field
                    # postings (only if the bundle shipped one)
                    fielded = (
                        (qs.get("fielded") or ["false"])[0] == "true"
                        and engine.fielded_index is not None
                    )
                    with lock:
                        res = engine.search(
                            q, k=size, page=page, page_size=size,
                            snippets=snippets, proximity=proximity,
                            synonyms=synonyms, fielded=fielded,
                        )
                    payload = {
                        "query": q,
                        "page": page,
                        "results": [_result_json(r) for r in res],
                    }
                    if not res:
                        # zero hits: attach did-you-mean corrections for
                        # out-of-vocabulary terms (zero Spark jobs)
                        with lock:
                            sugg = engine.suggest(q)
                        if sugg:
                            payload["did_you_mean"] = {
                                t: [s for s, _df, _d in cands]
                                for t, cands in sugg.items()
                            }
                    return self._json(200, payload)
                if u.path == "/synonym":
                    with lock:
                        exp = engine.synonym_expansions(q)
                    return self._json(
                        200,
                        {
                            t: [{"word": w, "weight": wt} for w, wt in syns]
                            for t, syns in exp.items()
                        },
                    )
                if u.path == "/autocomplete":
                    limit = int((qs.get("limit") or ["10"])[0])
                    with lock:
                        comps = engine.autocomplete(q, limit=limit)
                    return self._json(200, {"completions": comps})
                if u.path == "/related":
                    did = int((qs.get("doc_id") or ["-1"])[0])
                    limit = int((qs.get("limit") or ["10"])[0])
                    with lock:
                        rel = engine.related(did, k=limit)
                    return self._json(
                        200,
                        {"doc_id": did, "results": [_result_json(r) for r in rel]},
                    )
                if u.path == "/suggest":
                    limit = int((qs.get("limit") or ["5"])[0])
                    with lock:
                        sugg = engine.suggest(q, limit=limit)
                    return self._json(
                        200,
                        {
                            t: [
                                {"term": s, "df": df, "dist": d}
                                for s, df, d in cands
                            ]
                            for t, cands in sugg.items()
                        },
                    )
                if u.path == "/grep":
                    # regex retrieval — the one route that runs a Spark
                    # job per request (substring semantics can't be
                    # served from the word postings)
                    pattern = (qs.get("pattern") or [""])[0]
                    if not pattern:
                        return self._json(400, {"error": "pattern required"})
                    limit = int((qs.get("limit") or ["20"])[0])
                    lines = (qs.get("lines") or ["false"])[0] == "true"
                    ci = (qs.get("i") or ["false"])[0] == "true"
                    with lock:
                        engine._maybe_refresh()
                    with grep_lock:
                        rows = engine.grep(
                            pattern, limit=limit, lines=lines,
                            case_insensitive=ci, check_fresh=False,
                        )
                    return self._json(
                        200, {"pattern": pattern, "results": rows}
                    )
                if u.path == "/symbol":
                    # go-to-definition — a Spark job per request like
                    # /grep, so it shares grep_lock (outside the engine
                    # lock; definition grammar can't be served from the
                    # word postings)
                    name = (qs.get("name") or [q or ""])[0]
                    if not name:
                        return self._json(400, {"error": "name required"})
                    limit = int((qs.get("limit") or ["10"])[0])
                    prefix = (qs.get("prefix") or ["false"])[0] == "true"
                    with lock:
                        engine._maybe_refresh()
                    with grep_lock:
                        rows = engine.symbols(
                            name, limit=limit, prefix=prefix,
                            check_fresh=False,
                        )
                    return self._json(200, {"name": name, "results": rows})
                if u.path == "/boolean":
                    # +term = must, -term = exclude, bare = optional scorer
                    return self._scored_hits(
                        q, qs, lambda q, k: engine.boolean(q, k=k)
                    )
                if u.path == "/prf":
                    # RM3 pseudo-relevance feedback: two cache-core
                    # passes + pyarrow point reads of the feedback docs;
                    # zero corpus-sized Spark work on a published bundle
                    fbd = int((qs.get("fbDocs") or ["5"])[0])
                    fbt = int((qs.get("fbTerms") or ["5"])[0])
                    return self._scored_hits(
                        q, qs,
                        lambda q, k: engine.prf(
                            q, k=k, fb_docs=fbd, fb_terms=fbt
                        ),
                    )
                if u.path == "/fuzzy":
                    max_dist = int((qs.get("maxDist") or ["1"])[0])
                    return self._scored_hits(
                        q, qs,
                        lambda q, k: engine.fuzzy(q, k=k, max_dist=max_dist),
                    )
                if u.path == "/explain":
                    # per-(doc, term) BM25 breakdown for the top-k docs;
                    # zero Spark jobs on a published bundle
                    if not q.strip():
                        return self._json(400, {"error": "empty query"})
                    k = int((qs.get("limit") or ["10"])[0])
                    with lock:
                        rows = engine.explain(q, k=k)
                    return self._json(200, {"query": q, "results": rows})
                if u.path == "/wildcard":
                    # * = any run, ? = one char; expansion over the capped
                    # serving vocabulary, zero Spark jobs per call
                    return self._scored_hits(
                        q, qs, lambda q, k: engine.wildcard(q, k=k)
                    )
                if u.path == "/regexpterm":
                    # anchored regex over the capped serving vocabulary
                    # (Lucene RegexpQuery analog); zero Spark jobs per
                    # call — content regex is /grep
                    return self._scored_hits(
                        q, qs, lambda q, k: engine.regexp_term(q, k=k)
                    )
                if u.path == "/near":
                    # NEAR/k proximity over positional postings; zero
                    # Spark jobs on a published bundle once terms are hot
                    a = (qs.get("a") or [""])[0]
                    b = (qs.get("b") or [""])[0]
                    if not a.strip() or not b.strip():
                        return self._json(
                            400, {"error": "a and b terms required"}
                        )
                    gap = int((qs.get("gap") or ["5"])[0])
                    k = int((qs.get("limit") or ["10"])[0])
                    ordered = (qs.get("ordered") or ["false"])[0] == "true"
                    try:
                        with lock:
                            rows = engine.near(
                                a, b, max_gap=gap, k=k, ordered=ordered
                            )
                    except ValueError as exc:
                        return self._json(400, {"error": str(exc)})
                    return self._json(
                        200, {"a": a, "b": b, "gap": gap, "results": rows}
                    )
                if u.path == "/facets":
                    if not q.strip():
                        return self._json(400, {"error": "empty query"})
                    cols = None
                    if qs.get("cols"):
                        cols = [
                            c for c in qs["cols"][0].split(",") if c
                        ]
                    with lock:
                        fac = engine.facets(q, facet_cols=cols)
                    return self._json(
                        200,
                        {
                            "query": q,
                            "facets": {
                                f: [
                                    {"value": v, "n_docs": n}
                                    for v, n in vals
                                ]
                                for f, vals in fac.items()
                            },
                        },
                    )
                if u.path == "/history":
                    limit = int((qs.get("limit") or ["5"])[0])
                    with lock:
                        hist = engine.history(limit=limit)
                    return self._json(200, {"history": hist})
                return self._json(404, {"error": "not found"})
            except Exception as exc:  # noqa: BLE001 — surface as 500 JSON
                return self._json(500, {"error": str(exc)})

        def log_message(self, *args) -> None:  # quiet test output
            pass

    return Handler


def start_server(engine, host: str = "127.0.0.1", port: int = 0):
    """Start serving in a daemon thread; returns the server (bound port in
    ``server.server_address``; call ``server.shutdown()`` to stop)."""
    srv = ThreadingHTTPServer((host, port), make_handler(engine))
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv


def serve(engine, host: str = "127.0.0.1", port: int = 8080) -> None:
    """Blocking variant of :func:`start_server`."""
    ThreadingHTTPServer((host, port), make_handler(engine)).serve_forever()
