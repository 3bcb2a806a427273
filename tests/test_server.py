"""HTTP JSON serving layer: routes mirror the reference's SearchApi
surface; responses must equal direct SearchEngine calls."""

from __future__ import annotations

import json
import urllib.request

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def bundle(spark, corpus_df, tmp_path_factory):
    from google_spark.search import SearchEngine
    from google_spark.sources.tables import with_doc_identity

    eng = SearchEngine.build(spark, with_doc_identity(corpus_df))
    out = str(tmp_path_factory.mktemp("srvbundle"))
    eng.save(out)
    return out


@pytest.fixture(scope="module")
def served(spark, bundle):
    from google_spark.search import SearchEngine
    from google_spark.server import start_server

    loaded = SearchEngine.load(spark, bundle)  # bundle: zero Spark jobs/request
    srv = start_server(loaded)
    host, port = srv.server_address
    yield loaded, f"http://{host}:{port}"
    srv.shutdown()


@pytest.fixture(scope="module")
def oracle(served):
    """OracleIndex over the served bundle's docstore content."""
    from google_spark.oracle import OracleIndex

    eng, _ = served
    rows = eng.docs.select("doc_id", "content").collect()
    return OracleIndex([(r["doc_id"], r["content"]) for r in rows])


def _get(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=30) as resp:
        return resp.status, json.loads(resp.read())


def test_search_route_matches_engine(served):
    eng, base = served
    status, body = _get(base, "/search?query=data+partition&pageSize=5")
    assert status == 200
    direct = eng.search("data partition", k=5, snippets=True)
    assert [r["doc_id"] for r in body["results"]] == [r.doc_id for r in direct]
    assert [r["priority"] for r in body["results"]] == [
        pytest.approx(r.priority) for r in direct
    ]
    assert all(r["snippet"] for r in body["results"])


def test_zero_hit_search_includes_did_you_mean(served):
    eng, base = served
    # a typo of a vocabulary term: zero hits, but corrections attached
    term = eng._top_vocab()[0][0]
    typo = term[1] + term[0] + term[2:]  # transpose first two chars
    if typo in dict(eng._top_vocab()):
        typo = term + "x"
    status, body = _get(base, f"/search?query={typo}")
    assert status == 200
    if not body["results"]:
        assert term in body["did_you_mean"][typo]
    # a normal query with hits never carries the key
    status, body = _get(base, "/search?query=data+partition")
    assert "did_you_mean" not in body


def test_pagination_params(served):
    eng, base = served
    _, p1 = _get(base, "/search?query=data&pageSize=3&pageNum=1&snippets=false")
    _, p2 = _get(base, "/search?query=data&pageSize=3&pageNum=2&snippets=false")
    full = eng.search("data", k=3, page_size=3)
    full2 = eng.search("data", k=3, page=2, page_size=3)
    assert [r["doc_id"] for r in p1["results"]] == [r.doc_id for r in full]
    assert [r["doc_id"] for r in p2["results"]] == [r.doc_id for r in full2]
    assert p1["results"] != p2["results"]


def test_autocomplete_and_history_routes(served):
    eng, base = served
    _, comp = _get(base, "/autocomplete?query=pa")
    assert comp["completions"] == eng.autocomplete("pa", limit=10)
    _get(base, "/search?query=merge+sort&pageSize=2")
    _, hist = _get(base, "/history")
    assert "merge sort" in hist["history"]


def test_error_routes(served):
    _, base = served
    import urllib.error

    with pytest.raises(urllib.error.HTTPError) as e400:
        _get(base, "/search?query=")
    assert e400.value.code == 400
    with pytest.raises(urllib.error.HTTPError) as e404:
        _get(base, "/nope")
    assert e404.value.code == 404
    status, ok = _get(base, "/health")
    assert status == 200 and ok["ok"] is True


def test_synonym_route(spark):
    from google_spark.operators.index_build import build_index
    from google_spark.operators.synonyms import synthetic_word_vectors
    from google_spark.search import SearchEngine
    from google_spark.server import start_server

    docs = spark.createDataFrame(
        [(i, f"data record merge doc {i}") for i in range(30)],
        "doc_id long, text string",
    )
    idx = build_index(spark, docs, id_col="doc_id", text_col="text")
    wv = synthetic_word_vectors(
        spark, ["data", "record", "dataset", "merge"],
        clusters={"data": ["dataset", "record"]},
    )
    eng = SearchEngine(idx, word_vectors=wv)
    srv = start_server(eng)
    host, port = srv.server_address
    try:
        _, exp = _get(f"http://{host}:{port}", "/synonym?query=data")
        assert "data" in exp and len(exp["data"]) > 0
        assert {"word", "weight"} <= set(exp["data"][0])
        _, body = _get(
            f"http://{host}:{port}",
            "/search?query=data&pageSize=5&synonyms=true&snippets=false",
        )
        assert [r["doc_id"] for r in body["results"]] == [
            r.doc_id for r in eng.search("data", k=5, synonyms=True)
        ]
    finally:
        srv.shutdown()


def test_related_route(served):
    eng, base = served
    # pick a doc we know exists via a search hit
    seed = eng.search("data partition", k=1)[0].doc_id
    status, body = _get(base, f"/related?doc_id={seed}&limit=5")
    assert status == 200 and body["doc_id"] == seed
    ids = [r["doc_id"] for r in body["results"]]
    assert seed not in ids and len(ids) <= 5
    direct = eng.related(seed, k=5)
    assert ids == [r.doc_id for r in direct]

    status, body = _get(base, "/related?doc_id=99999999")
    assert status == 200 and body["results"] == []


def test_grep_route(served):
    loaded, base = served
    import urllib.parse

    pat = urllib.parse.quote(r"def open_[a-z_]+")
    status, body = _get(base, f"/grep?pattern={pat}&limit=5")
    assert status == 200
    direct = loaded.grep(r"def open_[a-z_]+", limit=5)
    assert body["results"] == direct
    assert body["results"]
    status, body = _get(base, f"/grep?pattern={pat}&limit=3&lines=true")
    assert status == 200
    assert all("line_no" in r for r in body["results"])
    import urllib.error

    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(base, "/grep")
    assert ei.value.code == 400


def test_boolean_route_matches_engine_and_operator(served, oracle):
    """/boolean mirrors engine.boolean, whose answer must match the
    boolean query replayed over OracleIndex postings (same +/- syntax)."""
    from google_spark.operators.index_query import parse_boolean_query

    eng, base = served
    q = "+data partition -merge"
    status, body = _get(base, "/boolean?query=%2Bdata+partition+-merge&limit=5")
    assert status == 200
    direct = eng.boolean(q, k=5)
    assert [(r["doc_id"], pytest.approx(r["score"])) for r in body["results"]] == [
        (d, pytest.approx(s)) for d, s in direct
    ]
    must, should, must_not = parse_boolean_query(q)
    cand = set.intersection(*(set(oracle.postings[t]) for t in must))
    for t in must_not:
        cand -= set(oracle.postings.get(t, {}))
    want = sorted(
        ((d, sum(oracle.bm25(t, d) for t in must + should)) for d in cand),
        key=lambda p: (-p[1], p[0]),
    )[:5]
    assert direct and [d for d, _ in direct] == [d for d, _ in want]
    for (_, a), (_, b) in zip(direct, want):
        assert a == pytest.approx(b, abs=1e-6)


def test_fuzzy_route_finds_typo_matches(served):
    eng, base = served
    term = eng._top_vocab()[0][0]
    typo = term[:-1] + ("x" if term[-1] != "x" else "y")
    status, body = _get(base, f"/fuzzy?query={typo}&limit=5")
    assert status == 200
    direct = eng.fuzzy(typo, k=5)
    assert [(r["doc_id"], pytest.approx(r["score"])) for r in body["results"]] == [
        (d, pytest.approx(s)) for d, s in direct
    ]
    # the typo's neighbor is a hot vocabulary term: fuzzy must find docs
    assert body["results"]
    # exact queries still work through the same route
    status, body = _get(base, f"/fuzzy?query={term}")
    assert status == 200 and body["results"]


def test_explain_route_matches_engine_and_operator(served, oracle):
    """/explain mirrors engine.explain, whose breakdowns must equal the
    OracleIndex BM25 of every (doc, term) of the oracle's top-k."""
    eng, base = served
    status, body = _get(base, "/explain?query=data+partition&limit=5")
    assert status == 200
    direct = eng.explain("data partition", k=5)
    assert body["results"] == [
        {**r, "score": pytest.approx(r["score"]),
         "contribution": pytest.approx(r["contribution"]),
         "idf": pytest.approx(r["idf"])}
        for r in direct
    ]
    top = oracle.topk("data partition", k=5)
    direct_docs = list(dict.fromkeys(r["doc_id"] for r in direct))
    assert [d for d, _ in top] == direct_docs
    want = sorted(
        (d, t)
        for d, _ in top
        for t in ("data", "partition")
        if d in oracle.postings.get(t, {})
    )
    assert sorted((r["doc_id"], r["term"]) for r in direct) == want
    totals = dict(top)
    for r in direct:
        assert r["tf"] == len(oracle.postings[r["term"]][r["doc_id"]])
        assert r["dl"] == oracle.dl[r["doc_id"]]
        assert r["idf"] == pytest.approx(oracle.idf(r["term"]), abs=1e-6)
        assert r["contribution"] == pytest.approx(
            r["weight"] * oracle.bm25(r["term"], r["doc_id"]), abs=1e-6
        )
        assert r["score"] == pytest.approx(totals[r["doc_id"]], abs=1e-6)


def test_wildcard_route_matches_engine_and_operator(served):
    """/wildcard mirrors engine.wildcard (serving-vocab expansion), which
    must rank like the distributed full-dictionary wildcard_topk here
    (the test corpus fits the capped vocabulary)."""
    from google_spark.operators.index_query import wildcard_topk

    eng, base = served
    status, body = _get(base, "/wildcard?query=dat%3F&limit=5")  # 'dat?'
    assert status == 200
    direct = eng.wildcard("dat?", k=5)
    assert [(r["doc_id"], pytest.approx(r["score"])) for r in body["results"]] == [
        (d, pytest.approx(s)) for d, s in direct
    ]
    assert body["results"]
    op = [
        (r["doc_id"], r["score"])
        for r in wildcard_topk(eng.index, "dat?", k=5).collect()
    ]
    assert [d for d, _ in direct] == [d for d, _ in op]
    for (_, a), (_, b) in zip(direct, op):
        assert a == pytest.approx(b, rel=1e-9)


def test_facets_route_counts_match_meta(served):
    eng, base = served
    status, body = _get(base, "/facets?query=data&cols=repo")
    assert status == 200
    direct = eng.facets("data", facet_cols=["repo"])
    got = {
        f: [(v["value"], v["n_docs"]) for v in vals]
        for f, vals in body["facets"].items()
    }
    assert got == {f: list(vals) for f, vals in direct.items()}
    assert sum(n for _, n in got["repo"]) > 0
    # counts agree with a hand count over matching docs' meta
    from google_spark.operators.index_query import docs_containing, query_terms

    ids = docs_containing(eng.index, sorted(set(query_terms("data"))))
    meta = eng._meta_for([int(x) for x in ids])
    from collections import Counter

    want = Counter(str(m["repo"]) for m in meta.values() if m.get("repo") is not None)
    assert dict(got["repo"]) == dict(want)


def test_empty_query_new_routes(served):
    _, base = served
    import urllib.error

    for path in (
        "/boolean?query=",
        "/fuzzy?query=",
        "/facets",
        "/wildcard?query=",
        "/explain?query=",
    ):
        with pytest.raises(urllib.error.HTTPError) as err:
            _get(base, path)
        assert err.value.code == 400


def test_symbol_route(served):
    loaded, base = served
    import urllib.error
    import urllib.parse

    # prefix lookup mirrors the facade exactly
    status, body = _get(base, "/symbol?name=open_&prefix=true&limit=5")
    assert status == 200
    direct = loaded.symbols("open_", limit=5, prefix=True)
    assert body["results"] == direct
    if direct:  # corpus-dependent; shape is the contract
        r = direct[0]
        assert set(r) == {"symbol", "kind", "n_defs", "doc_id", "line_no"}
    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(base, "/symbol")
    assert ei.value.code == 400


def test_regexpterm_route_matches_engine_and_operator(served):
    """/regexpterm mirrors engine.regexp_term (serving-vocab expansion),
    which must rank like the distributed full-dictionary regexp_term_topk
    here (the test corpus fits the capped vocabulary)."""
    from google_spark.operators.index_query import regexp_term_topk

    eng, base = served
    status, body = _get(base, "/regexpterm?query=dat.%2A&limit=5")  # 'dat.*'
    assert status == 200
    direct = eng.regexp_term("dat.*", k=5)
    assert [(r["doc_id"], pytest.approx(r["score"])) for r in body["results"]] == [
        (d, pytest.approx(s)) for d, s in direct
    ]
    assert body["results"]
    op = [
        (r["doc_id"], r["score"])
        for r in regexp_term_topk(eng.index, "dat.*", k=5).collect()
    ]
    assert [d for d, _ in direct] == [d for d, _ in op]
    for (_, a), (_, b) in zip(direct, op):
        assert a == pytest.approx(b, rel=1e-9)
    # invalid regex -> 400, not a 500
    with pytest.raises(urllib.error.HTTPError) as e400:
        _get(base, "/regexpterm?query=%28unclosed")
    assert e400.value.code == 400


def test_near_route_matches_engine_and_operator(served, oracle):
    """/near mirrors engine.near, whose (doc_id, min_gap, score) rows must
    equal the NEAR query replayed over OracleIndex positions."""
    eng, base = served
    status, body = _get(base, "/near?a=data&b=partition&gap=8&limit=5")
    assert status == 200
    direct = eng.near("data", "partition", max_gap=8, k=5)
    assert [
        (r["doc_id"], r["min_gap"], pytest.approx(r["score"]))
        for r in body["results"]
    ] == [
        (r["doc_id"], r["min_gap"], pytest.approx(r["score"]))
        for r in direct
    ]
    assert body["results"]
    pa, pb = oracle.postings["data"], oracle.postings["partition"]
    want = []
    for d in set(pa) & set(pb):
        gap = min(abs(y - x) for x in pa[d] for y in pb[d])
        if gap <= 8:
            score = oracle.bm25("data", d) + oracle.bm25("partition", d)
            want.append((d, gap, score))
    want.sort(key=lambda r: (-r[2], r[0]))
    assert [(r["doc_id"], r["min_gap"]) for r in direct] == [
        (d, g) for d, g, _ in want[:5]
    ]
    for r, (_, _, score) in zip(direct, want):
        assert r["score"] == pytest.approx(score, abs=1e-6)
    # ordered variant flows through; identical terms -> 400, not a 500
    status, body = _get(base, "/near?a=data&b=partition&gap=8&ordered=true")
    assert status == 200
    with pytest.raises(urllib.error.HTTPError) as e400:
        _get(base, "/near?a=data&b=data&gap=8")
    assert e400.value.code == 400


def _oracle_prf(oracle, query, k, fb_docs=5, fb_terms=5, alpha=0.5):
    """RM3 replayed over OracleIndex: feedback docs from the oracle's top
    ``fb_docs``, relevance-mass expansion weights on the 6-dp HALF-UP grid,
    then the weighted query scored with the oracle's BM25."""
    from collections import Counter, defaultdict

    from google_spark.operators.index_query import round6_half_up

    seed = Counter(oracle.query_terms(query))
    fb = sorted(oracle.topk(query, k=fb_docs))
    mined: dict[str, float] = defaultdict(float)
    for d, score in fb:
        s6 = round6_half_up(score)
        for t, plist in sorted(oracle.postings.items()):
            if d in plist and t not in seed:
                mined[t] += s6 * len(plist[d]) / oracle.dl[d]
    picked = sorted(
        ((round6_half_up(w), t) for t, w in mined.items()),
        key=lambda p: (-p[0], p[1]),
    )[:fb_terms]
    weights = {t: float(c) for t, c in seed.items()}
    if picked and picked[0][0] > 0.0:
        for w, t in picked:
            weights[t] = round6_half_up(alpha * w / picked[0][0])
    scores: dict[int, float] = defaultdict(float)
    for t, w in weights.items():
        for d in oracle.postings.get(t, {}):
            scores[d] += w * oracle.bm25(t, d)
    return sorted(scores.items(), key=lambda p: (-p[1], p[0]))[:k]


def test_prf_route_matches_engine_and_operator(served, oracle):
    """/prf mirrors engine.prf, whose ranking must match RM3 replayed over
    OracleIndex on the same corpus (shared round6_half_up grid)."""
    eng, base = served
    status, body = _get(base, "/prf?query=data+partition&limit=5")
    assert status == 200
    direct = eng.prf("data partition", k=5)
    assert [(r["doc_id"], pytest.approx(r["score"])) for r in body["results"]] == [
        (d, pytest.approx(s)) for d, s in direct
    ]
    want = _oracle_prf(oracle, "data partition", k=5)
    assert direct and [d for d, _ in direct] == [d for d, _ in want]
    for (_, a), (_, b) in zip(direct, want):
        assert a == pytest.approx(b, abs=1e-6)


# -- session-free bundle serving ------------------------------------------

_POINT_READ_PATHS = [
    "/search?query=data+partition&pageSize=5",
    "/search?query=%22merge+sort%22&pageSize=5",
    "/search?query=data+-partition&pageSize=5",
    "/search?query=data+repo:org1/repo1&pageSize=5",
    "/search?query=data+lang:go&pageSize=5",
    "/search?query=partitoin&pageSize=5",
    "/suggest?query=partitoin+dta",
    "/autocomplete?query=pa",
    "/facets?query=data+partition",
    "/explain?query=data+partition&limit=3",
    "/wildcard?query=part*",
]


def _no_spark(*_a, **_k):
    raise AssertionError("a bundle route opened a Spark session")


def test_session_free_bundle_answers_point_read_routes(spark, bundle, served, monkeypatch):
    """A bundle loaded with ``spark=None`` answers every point-read route
    with no Spark session and no Spark job, byte-for-byte like a
    Spark-loaded engine."""
    import google_spark.session as session
    from google_spark.search import SearchEngine
    from google_spark.server import start_server

    monkeypatch.setattr(session, "get_spark", _no_spark)
    free = SearchEngine.load(None, bundle)
    assert "rank" in free.doc_meta.columns  # schema read, no session opened
    srv = start_server(free)
    host, port = srv.server_address
    free_base = f"http://{host}:{port}"
    seed = served[0].search("data partition", k=1)[0].doc_id
    paths = _POINT_READ_PATHS + [f"/related?doc_id={seed}&limit=5"]
    tracker = spark.sparkContext.statusTracker()
    jobs0 = len(tracker.getJobIdsForGroup())
    try:
        got = {p: _get(free_base, p) for p in paths}
    finally:
        srv.shutdown()
    assert len(tracker.getJobIdsForGroup()) == jobs0
    assert got["/search?query=partitoin&pageSize=5"][1]["did_you_mean"]
    for p in paths:
        assert got[p] == _get(served[1], p), p


_FRESH_SERVE = r"""
import json
import sys
import urllib.request

from google_spark.search import SearchEngine
from google_spark.server import start_server

bodies, trigram = {}, []
for bundle, paths in json.loads(sys.argv[1]):
    eng = SearchEngine.load(None, bundle)
    if eng.trigram_index is not None:
        trigram.append(bundle)
    srv = start_server(eng)
    host, port = srv.server_address
    try:
        for p in paths:
            url = f"http://{host}:{port}{p}"
            with urllib.request.urlopen(url, timeout=30) as resp:
                bodies[bundle + p] = [resp.status, json.loads(resp.read())]
    finally:
        srv.shutdown()
banned = sorted(
    m for m in sys.modules
    if m.split(".")[0] in ("pandas", "pyspark", "py4j")
    or m.startswith(("pyarrow.dataset", "pyarrow._dataset", "pyarrow.acero", "pyarrow._acero"))
)
print(json.dumps({"bodies": bodies, "banned": banned, "trigram": trigram}))
"""


def test_fresh_interpreter_serves_bundles_without_pandas_or_spark(
    spark, bundle, served, tmp_path
):
    """A new interpreter loads the bundle, a copy with tombstones and a
    copy that carries a trigram index, with ``spark=None`` and serves every
    point-read route plus /related without importing pandas, pyspark,
    py4j, pyarrow.dataset or pyarrow.acero; every body equals the
    Spark-loaded engine's."""
    import os
    import shutil
    import subprocess
    import sys

    from google_spark.operators.index_build import delete_from_index
    from google_spark.operators.trigram import build_trigram_index, write_trigram_index
    from google_spark.search import SearchEngine
    from google_spark.server import start_server

    top = [r.doc_id for r in served[0].search("data partition", k=3)]
    tomb = str(tmp_path / "tombstoned")
    shutil.copytree(bundle, tomb)
    assert delete_from_index(tomb, top[:2]) == 2
    tri = str(tmp_path / "trigram")
    shutil.copytree(bundle, tri)
    tindex = build_trigram_index(spark, served[0].docs, text_col="content")
    write_trigram_index(tindex, os.path.join(tri, "trigram"))
    tindex.postings.unpersist()
    tindex.stats.unpersist()
    paths = _POINT_READ_PATHS + [f"/related?doc_id={top[2]}&limit=5"]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": os.pathsep.join([root, os.environ.get("PYTHONPATH", "")])}
    proc = subprocess.run(
        [sys.executable, "-c", _FRESH_SERVE,
         json.dumps([[bundle, paths], [tomb, paths], [tri, paths]])],
        capture_output=True, text=True, timeout=600, env=env, cwd=str(tmp_path),
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["banned"] == []
    assert got["trigram"] == [tri]

    tomb_srv = start_server(SearchEngine.load(spark, tomb))
    host, port = tomb_srv.server_address
    try:
        want = {bundle + p: list(_get(served[1], p)) for p in paths}
        want.update({tomb + p: list(_get(f"http://{host}:{port}", p)) for p in paths})
        want.update({tri + p: want[bundle + p] for p in paths})
    finally:
        tomb_srv.shutdown()
    assert got["bodies"] == want
    # the tombstones took effect: the deleted docs left the first query
    first = paths[0]
    ids = [r["doc_id"] for r in got["bodies"][tomb + first][1]["results"]]
    assert ids and not set(ids) & set(top[:2])
    assert got["bodies"][bundle + first] != got["bodies"][tomb + first]


def test_session_free_grep_opens_session_on_first_use(bundle, served):
    """/grep on a session-free engine starts Spark through the lazy
    handle and answers like the Spark-loaded engine."""
    from google_spark.search import SearchEngine
    from google_spark.server import start_server

    free = SearchEngine.load(None, bundle)
    srv = start_server(free)
    host, port = srv.server_address
    try:
        path = "/grep?pattern=def+open_%5Ba-z_%5D%2B&limit=5"
        status, body = _get(f"http://{host}:{port}", path)
    finally:
        srv.shutdown()
    assert status == 200 and body["results"]
    assert body == _get(served[1], path)[1]


def test_top_vocab_from_parquet_matches_spark_order(spark, bundle):
    """The bundle's pyarrow vocabulary equals Spark's
    orderBy(desc df, asc term), ties included."""
    from google_spark.search import TRIE_MAX_TERMS, SearchEngine

    vocab = SearchEngine.load(spark, bundle)._top_vocab()
    want = [
        (r["term"], int(r["df"]))
        for r in spark.read.parquet(f"{bundle}/terms.parquet")
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(TRIE_MAX_TERMS)
        .collect()
    ]
    assert vocab == want
    assert len({df for _, df in vocab}) < len(vocab)  # ties exercised


def test_idf_from_parquet_matches_idf_map(spark, bundle, monkeypatch):
    """related()'s idf lookup on a bundle (pyarrow isin read) equals
    IndexTables.idf_map; absent terms read 0.0."""
    import google_spark.session as session
    from google_spark.operators.index_build import read_index
    from google_spark.search import SearchEngine

    index = read_index(spark, bundle)
    terms = [r["term"] for r in index.terms.limit(40).collect()]
    want = index.idf_map(terms)
    monkeypatch.setattr(session, "get_spark", _no_spark)
    got = SearchEngine.load(None, bundle)._idf_for(terms + ["zzqxabsent"])
    assert {t: got[t] for t in terms} == want
    assert got["zzqxabsent"] == 0.0


def test_500_logs_traceback_with_method_and_path(caplog):
    """A route whose engine call raises answers 500 with ``str(exc)`` as
    the body and logs the traceback with the request's method and path
    (stub engine, no Spark)."""
    import logging
    import urllib.error

    from google_spark.server import start_server

    class BrokenEngine:
        fielded_index = None

        def search(self, *_a, **_k):
            raise RuntimeError("postings file vanished")

    srv = start_server(BrokenEngine())
    host, port = srv.server_address
    try:
        with caplog.at_level(logging.ERROR, logger="google_spark.server"):
            with pytest.raises(urllib.error.HTTPError) as e500:
                _get(f"http://{host}:{port}", "/search?query=data")
    finally:
        srv.shutdown()
    assert e500.value.code == 500
    assert json.loads(e500.value.read()) == {"error": "postings file vanished"}
    [rec] = [r for r in caplog.records if r.name == "google_spark.server"]
    assert rec.getMessage() == "500 on GET /search?query=data"
    assert rec.exc_info[0] is RuntimeError
    assert "postings file vanished" in caplog.text and "Traceback" in caplog.text
