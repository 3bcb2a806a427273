"""Oracle-diff e2e (SURVEY.md §5.2): the Spark engine's top-k must be
rank-identical to the NumPy oracle, scores equal within 1e-6; WAND must
equal exhaustive scoring on every query (pruning-correctness)."""

from __future__ import annotations

import pytest

from google_spark.corpus import reference_queries
from google_spark.ids import doc_id_of
from google_spark.operators.index_build import build_index
from google_spark.operators.index_query import exhaustive_topk, wand_topk
from google_spark.oracle import OracleIndex

MODE = "code"


@pytest.fixture(scope="module")
def built(spark, corpus_pdf, corpus_df):
    from google_spark.sources.tables import with_doc_identity

    docs = with_doc_identity(corpus_df)
    index = build_index(spark, docs, id_col="doc_id", text_col="content", mode=MODE)

    oracle_docs = [
        (doc_id_of(r.repo, r.path, r.commit), r.content)
        for r in corpus_pdf.itertuples()
    ]
    oracle = OracleIndex(oracle_docs, mode=MODE)
    return index, oracle


def test_corpus_stats_match(built):
    """Corpus scalars and the per-term df / BM25 idf table
    (``index_build.term_stats``) equal the oracle's, term for term."""
    index, oracle = built
    assert index.n_docs == oracle.n_docs
    assert index.avgdl == pytest.approx(oracle.avgdl, abs=1e-9)
    got = {r["term"]: (r["df"], r["idf"]) for r in index.terms.collect()}
    assert got.keys() == {t for t, plist in oracle.postings.items() if plist}
    for term, (df, idf) in got.items():
        assert df == len(oracle.postings[term]), term
        assert idf == pytest.approx(oracle.idf(term), abs=1e-9), term


def test_bm25_core_numpy_spark_oracle_agree(spark):
    """The one scoring core: over a tf/dl grid, ``bm25_term`` gives
    bit-identical scores on NumPy arrays and on a Spark Column, and both
    equal ``OracleIndex.bm25`` (and ``bm25_idf`` its idf) within 1e-12."""
    import numpy as np
    from pyspark.sql import functions as F

    from google_spark import bm25_idf, bm25_term

    grid = [
        (tf, dl)
        for tf in (1, 2, 3, 5, 8, 13)
        for dl in (tf, tf + 1, 17, 40, 333)
    ]
    # doc i holds 'aa' tf times among dl tokens; two docs without 'aa'
    # keep df below n_docs
    docs = [
        (i, "aa " * tf + "zz " * (dl - tf)) for i, (tf, dl) in enumerate(grid)
    ]
    docs += [(len(grid), "zz yy"), (len(grid) + 1, "yy")]
    oracle = OracleIndex(docs)
    df = len(oracle.postings["aa"])
    idf = bm25_idf(oracle.n_docs, df)
    assert idf == pytest.approx(oracle.idf("aa"), abs=1e-12)

    tf = np.array([t for t, _ in grid], dtype=np.float64)
    dl = np.array([d for _, d in grid], dtype=np.float64)
    got_np = bm25_term(idf, tf, dl, oracle.avgdl)
    rows = spark.createDataFrame(
        [(i, t, d) for i, (t, d) in enumerate(grid)], "i int, tf int, dl int"
    )
    col = bm25_term(idf, F.col("tf").cast("double"), F.col("dl"), oracle.avgdl)
    got_spark = [
        r["s"] for r in rows.select("i", col.alias("s")).orderBy("i").collect()
    ]
    assert got_spark == got_np.tolist()  # bit-identical, not approx
    for i, s in enumerate(got_np.tolist()):
        assert s == pytest.approx(oracle.bm25("aa", i), abs=1e-12), grid[i]


def _rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


@pytest.mark.parametrize("query_id,query,k", reference_queries())
def test_rank_identity_vs_oracle(built, query_id, query, k):
    index, oracle = built
    got = _rows(exhaustive_topk(index, query, k=k, mode=MODE))
    want = oracle.topk(query, k=k)
    assert [d for d, _ in got] == [d for d, _ in want], f"query {query_id}: {query}"
    for (_, gs), (_, ws) in zip(got, want):
        assert gs == pytest.approx(ws, abs=1e-6)


def test_batch_topk_equals_per_query(built, spark):
    """One distributed batch over the ENTIRE reference query set must
    reproduce each query's per-query exhaustive top-k exactly (ranks and
    scores), including queries sharing terms and repeated-term queries."""
    from google_spark.operators.index_query import batch_topk

    index, _ = built
    qset = list(reference_queries())
    qdf = spark.createDataFrame(
        [(qid, q) for qid, q, _k in qset], "query_id long, query string"
    )
    rows = batch_topk(index, qdf, k=10, mode=MODE).collect()
    by_q: dict[int, list[tuple[int, float]]] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, query, _k in qset:
        got = sorted(by_q.get(qid, []), key=lambda t: (-t[1], t[0]))
        want = _rows(exhaustive_topk(index, query, k=10, mode=MODE))
        assert [d for d, _ in got] == [d for d, _ in want], f"query {qid}: {query}"
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, abs=1e-9)


def test_batch_topk_shuffle_join_path(built, spark):
    """broadcast_queries=False (the huge-batch path: shuffle joins on term,
    AQE re-plans) must produce identical results to the broadcast path."""
    from google_spark.operators.index_query import batch_topk

    index, _ = built
    qdf = spark.createDataFrame(
        [(1, "hash join"), (2, "merge merge sort")], "query_id long, query string"
    )
    a = sorted(
        (r["query_id"], r["doc_id"], round(r["score"], 9))
        for r in batch_topk(index, qdf, k=5, mode=MODE).collect()
    )
    b = sorted(
        (r["query_id"], r["doc_id"], round(r["score"], 9))
        for r in batch_topk(
            index, qdf, k=5, mode=MODE, broadcast_queries=False
        ).collect()
    )
    assert a == b and a


@pytest.mark.parametrize("query_id,query,k", reference_queries())
def test_wand_equals_exhaustive(built, query_id, query, k):
    index, _ = built
    wand = _rows(wand_topk(index, query, k=k, mode=MODE))
    exh = _rows(exhaustive_topk(index, query, k=k, mode=MODE))
    assert [d for d, _ in wand] == [d for d, _ in exh], f"query {query_id}: {query}"
    for (_, ws), (_, es) in zip(wand, exh):
        assert ws == pytest.approx(es, abs=1e-9)


def test_sharding_invariance(spark, corpus_pdf, corpus_df):
    """Scores independent of shard count (the salting-invariance law,
    SURVEY.md §5.4)."""
    from google_spark.sources.tables import with_doc_identity

    docs = with_doc_identity(corpus_df).limit(80)
    i1 = build_index(spark, docs, id_col="doc_id", text_col="content", mode=MODE, n_shards=1)
    i16 = build_index(spark, docs, id_col="doc_id", text_col="content", mode=MODE, n_shards=16)
    q = "search engine index"
    r1 = _rows(exhaustive_topk(i1, q, k=10, mode=MODE))
    r16 = _rows(wand_topk(i16, q, k=10, mode=MODE))
    assert [d for d, _ in r1] == [d for d, _ in r16]
    for (_, a), (_, b) in zip(r1, r16):
        assert a == pytest.approx(b, abs=1e-9)


@pytest.mark.parametrize("query_id,query,k", reference_queries())
def test_wand_pivot_loop_equals_fast_path(built, query_id, query, k, monkeypatch):
    """Force the document-at-a-time WAND pivot loop (normally reserved for
    candidate sets > WAND_FASTPATH_MAX) and require it to match the
    vectorized accumulation on every reference query."""
    from google_spark.operators import index_query
    from google_spark.operators.index_query import wand_topk_local

    index, oracle = built
    fast = wand_topk_local(index, query, k=k, mode=MODE)
    monkeypatch.setattr(index_query, "WAND_FASTPATH_MAX", 0)
    loop = wand_topk_local(index, query, k=k, mode=MODE)
    assert [d for d, _ in loop] == [d for d, _ in fast], f"query {query_id}"
    for (_, a), (_, b) in zip(loop, fast):
        assert a == pytest.approx(b, abs=1e-9)
    want = oracle.topk(query, k=k)
    assert [d for d, _ in loop] == [d for d, _ in want]


def test_ref_tfidf_mode_matches_hand_computation(spark):
    """Reference-fidelity scoring (SURVEY §5 tier-6): score must equal
    queryFreq * (count/doclen) * ln(N/df) * 10 computed by hand (ref:
    Indexer.java:181-187 normalized tf, :238-242 idf=ln(N/df),
    RankScore.java:171-178 blend)."""
    import math

    from google_spark.operators.index_build import build_index
    from google_spark.operators.index_query import exhaustive_topk

    rows = [
        (1, "apple banana apple cherry"),       # dl=4, apple c=2
        (2, "apple banana banana banana date"),  # dl=5
        (3, "cherry date elder fig grape kiwi"),  # dl=6, no query terms
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idx = build_index(spark, docs, id_col="doc_id", text_col="text")
    got = {
        r["doc_id"]: r["score"]
        for r in exhaustive_topk(
            idx, "apple banana apple", k=10, scoring="ref_tfidf"
        ).collect()
    }
    n = 3
    df_apple, df_banana = 2, 2
    want = {
        1: 2 * (2 / 4) * math.log(n / df_apple) * 10
        + 1 * (1 / 4) * math.log(n / df_banana) * 10,
        2: 2 * (1 / 5) * math.log(n / df_apple) * 10
        + 1 * (3 / 5) * math.log(n / df_banana) * 10,
    }
    assert set(got) == set(want)
    for d in want:
        assert got[d] == pytest.approx(want[d], abs=1e-12), d


def test_batch_topk_string_query_ids(built, spark):
    """Review r4: eval-set logs (MS-MARCO style) use string query ids —
    the batch kernel must preserve the id type instead of forcing int64."""
    from google_spark.operators.index_query import batch_topk

    index, _ = built
    qdf = spark.createDataFrame(
        [("q_0017", "hash join"), ("q_0042", "merge merge sort")],
        "query_id string, query string",
    )
    rows = batch_topk(index, qdf, k=5, mode=MODE).collect()
    assert rows and {r["query_id"] for r in rows} <= {"q_0017", "q_0042"}
    # parity with the integer-id run on the same queries
    qdf_int = spark.createDataFrame(
        [(17, "hash join"), (42, "merge merge sort")],
        "query_id long, query string",
    )
    by_str = {
        (int(r["query_id"][2:]), r["doc_id"], round(r["score"], 9))
        for r in rows
    }
    by_int = {
        (r["query_id"], r["doc_id"], round(r["score"], 9))
        for r in batch_topk(index, qdf_int, k=5, mode=MODE).collect()
    }
    assert by_str == by_int

    import pytest as _pt

    bad = spark.createDataFrame(
        [(1.5, "hash join")], "query_id double, query string"
    )
    with _pt.raises(TypeError, match="unsupported query_id type"):
        batch_topk(index, bad, k=5, mode=MODE)
