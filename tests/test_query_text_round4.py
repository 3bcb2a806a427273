"""Round-4 second-wave operators: boolean retrieval, explain and NEAR
through the serving facade (checked against OracleIndex), prefix/wildcard
expansion, per-doc keyword extraction, PMI collocations and interpolated
bigram-LM scoring."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

DOCS = [
    (1, "hash join hash join fast scan"),
    (2, "hash table lookup with merge sort"),
    (3, "join order and join keys"),
    (4, "scan filter scan filter scan"),
    (5, "hash join merge pipeline"),
    (6, ""),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


@pytest.fixture(scope="module")
def index(spark, docs):
    from google_spark.operators.index_build import build_index

    return build_index(spark, docs, id_col="doc_id", text_col="text")


@pytest.fixture(scope="module")
def engine(index):
    """The serving facade over the in-memory index: the boolean, explain
    and near routes."""
    from google_spark.search import SearchEngine

    return SearchEngine(index)


@pytest.fixture(scope="module")
def oracle():
    from google_spark.oracle import OracleIndex

    return OracleIndex(DOCS)


# ---------------------------------------------------------------- boolean


def test_parse_boolean_query():
    from google_spark.operators.index_query import parse_boolean_query

    must, should, must_not = parse_boolean_query("+hash join -merge scan")
    assert must == ["hash"]
    assert should == ["join", "scan"]
    assert must_not == ["merge"]


def test_boolean_must_and_must_not(engine, oracle):
    got = {d for d, _ in engine.boolean(query="+hash join -merge", k=10)}
    # docs with 'hash': 1, 2, 5; with 'merge': 2, 5 -> only doc 1 survives
    want = set(oracle.postings["hash"]) - set(oracle.postings["merge"])
    assert got == want == {1}


def test_boolean_no_must_equals_exhaustive(engine, index):
    from google_spark.operators.index_query import exhaustive_topk

    got = engine.boolean(should=["hash", "join"], k=10)
    a = [(d, round(s, 9)) for d, s in got]
    b = [(r["doc_id"], round(r["score"], 9)) for r in
         exhaustive_topk(index, "hash join", k=10).collect()]
    assert a == b


def test_boolean_all_must(engine, oracle):
    got = engine.boolean(must=["hash", "join"], k=10)
    want = set(oracle.postings["hash"]) & set(oracle.postings["join"])
    assert {d for d, _ in got} == want == {1, 5}
    for d, s in got:
        assert s == pytest.approx(
            oracle.bm25("hash", d) + oracle.bm25("join", d), abs=1e-6
        )


def test_boolean_empty_positive_terms(engine):
    assert engine.boolean(must_not=["hash"], k=10) == []


# ----------------------------------------------------------------- prefix


def test_prefix_expansion_scores_like_weighted_or(index):
    from google_spark.operators.index_query import prefix_topk, weighted_topk

    a = [(r["doc_id"], round(r["score"], 9)) for r in
         prefix_topk(index, "sc", k=10).collect()]
    b = [(r["doc_id"], round(r["score"], 9)) for r in
         weighted_topk(index, {"scan": 1.0}, k=10).collect()]
    assert a == b and len(a) > 0


def test_prefix_cap_keeps_highest_df(index):
    from google_spark.operators.index_query import prefix_topk, weighted_topk

    # 's' terms: scan(df 2: docs 1,4), sort(df 1: doc 2) -> cap 1 keeps scan
    a = {r["doc_id"] for r in prefix_topk(index, "s", k=10, max_expand=1).collect()}
    b = {r["doc_id"] for r in weighted_topk(index, {"scan": 1.0}, k=10).collect()}
    assert a == b == {1, 4}


def test_prefix_no_match_is_empty(index):
    from google_spark.operators.index_query import prefix_topk

    assert prefix_topk(index, "zzz", k=10).count() == 0


# --------------------------------------------------------------- wildcard


def test_wildcard_regex_translation():
    from google_spark.operators.index_query import wildcard_regex

    assert wildcard_regex("s?a*") == "^s.a.*$"
    # regex metacharacters in the pattern are literals
    assert wildcard_regex("sc.n") == r"^sc\.n$"
    assert wildcard_regex("a+b") == r"^a\+b$"


def test_wildcard_expansion_scores_like_weighted_or(index):
    from google_spark.operators.index_query import weighted_topk, wildcard_topk

    # '?ash' (leading single-char wildcard) -> hash only
    a = [(r["doc_id"], round(r["score"], 9)) for r in
         wildcard_topk(index, "?ash", k=10).collect()]
    b = [(r["doc_id"], round(r["score"], 9)) for r in
         weighted_topk(index, {"hash": 1.0}, k=10).collect()]
    assert a == b and len(a) > 0


def test_wildcard_leading_star_scans_dictionary(index):
    from google_spark.operators.index_query import weighted_topk, wildcard_topk

    # '*ort' has no literal prefix to push -> full dictionary scan -> sort
    a = [(r["doc_id"], round(r["score"], 9)) for r in
         wildcard_topk(index, "*ort", k=10).collect()]
    b = [(r["doc_id"], round(r["score"], 9)) for r in
         weighted_topk(index, {"sort": 1.0}, k=10).collect()]
    assert a == b and len(a) > 0


def test_wildcard_cap_keeps_highest_df(index):
    from google_spark.operators.index_query import weighted_topk, wildcard_topk

    # 's*' terms: scan(df 2: docs 1,4), sort(df 1: doc 2) -> cap 1 keeps scan
    a = {r["doc_id"] for r in
         wildcard_topk(index, "s*", k=10, max_expand=1).collect()}
    b = {r["doc_id"] for r in weighted_topk(index, {"scan": 1.0}, k=10).collect()}
    assert a == b == {1, 4}


def test_wildcard_metachars_are_literal(index):
    from google_spark.operators.index_query import wildcard_topk

    # '.' is a literal, not any-char: 'sc.n' matches nothing, 'sc?n' = scan
    assert wildcard_topk(index, "sc.n", k=10).count() == 0
    assert {r["doc_id"] for r in wildcard_topk(index, "sc?n", k=10).collect()} == {
        1,
        4,
    }


def test_wildcard_no_match_is_empty(index):
    from google_spark.operators.index_query import wildcard_topk

    assert wildcard_topk(index, "zz*", k=10).count() == 0


# ----------------------------------------------------------- regexp terms


def test_regexp_term_matches_exhaustive(index):
    from google_spark.operators.index_query import (
        exhaustive_topk,
        regexp_term_topk,
    )

    a = [(r["doc_id"], round(r["score"], 9)) for r in
         regexp_term_topk(index, "(hash|join)", k=10).collect()]
    b = [(r["doc_id"], round(r["score"], 9)) for r in
         exhaustive_topk(index, "hash join", k=10).collect()]
    assert a == b and len(a) > 0


def test_regexp_term_is_anchored(index):
    from google_spark.operators.index_query import regexp_term_topk

    # 'as' appears inside 'hash' and 'fast' but matches no WHOLE term
    assert regexp_term_topk(index, "as", k=10).count() == 0
    # explicit .* opts into contains semantics
    assert regexp_term_topk(index, ".*as.*", k=10).count() > 0


def test_regexp_term_cap_keeps_highest_df(index):
    from google_spark.operators.index_query import (
        regexp_term_topk,
        weighted_topk,
    )

    # s-terms: scan(df 2) beats sort(df 1) under cap 1
    a = {r["doc_id"] for r in
         regexp_term_topk(index, "s.*", k=10, max_expand=1).collect()}
    b = {r["doc_id"] for r in weighted_topk(index, {"scan": 1.0}, k=10).collect()}
    assert a == b == {1, 4}


# ---------------------------------------------------------------- explain


def test_explain_totals_match_exhaustive(engine, index, oracle):
    from google_spark.operators.index_query import exhaustive_topk

    exp = engine.explain("hash join", k=10)
    want = [
        (r["doc_id"], r["score"])
        for r in exhaustive_topk(index, "hash join", k=10).collect()
    ]
    got = []
    for r in exp:
        if not got or got[-1][0] != r["doc_id"]:
            got.append((r["doc_id"], r["score"]))
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, a), (_, b) in zip(got, want):
        assert a == pytest.approx(b, rel=1e-12)
    # contributions are an exact additive decomposition of the doc score
    from collections import defaultdict

    by_doc = defaultdict(float)
    for r in exp:
        by_doc[r["doc_id"]] += r["contribution"]
        assert r["contribution"] == pytest.approx(
            r["weight"] * oracle.bm25(r["term"], r["doc_id"]), abs=1e-6
        )
    for d, s in want:
        assert by_doc[d] == pytest.approx(s, rel=1e-9)


def test_explain_weight_is_query_multiplicity(engine, oracle):
    rows = engine.explain("hash hash join", k=10)
    weights = {r["term"]: r["weight"] for r in rows}
    assert weights == {"hash": 2.0, "join": 1.0}
    # doubling a term's weight doubles exactly its contributions
    single = {
        (r["doc_id"], r["term"]): r["contribution"]
        for r in engine.explain("hash join", k=10)
    }
    for r in rows:
        factor = 2.0 if r["term"] == "hash" else 1.0
        assert r["contribution"] == pytest.approx(
            factor * single[(r["doc_id"], r["term"])], rel=1e-12
        )
        assert r["contribution"] == pytest.approx(
            factor * oracle.bm25(r["term"], r["doc_id"]), abs=1e-6
        )


def test_explain_empty_and_absent(engine):
    assert engine.explain("", k=5) == []
    assert engine.explain("zzzzqq", k=5) == []


# ------------------------------------------------------------------- near


def _oracle_near(oracle, a, b, max_gap, ordered=False):
    """{doc_id: min_gap} from the oracle's positions."""
    out = {}
    for d, pa in oracle.postings.get(a, {}).items():
        pb = oracle.postings.get(b, {}).get(d)
        if not pb:
            continue
        gaps = [y - x for x in pa for y in pb if y > x or not ordered]
        gaps = [abs(g) for g in gaps]
        if gaps and min(gaps) <= max_gap:
            out[d] = min(gaps)
    return out


def test_near_gap_and_candidates(engine, oracle):
    # doc 1: hash@1,3 join@2,4 (gap 1); doc 5: hash@1 join@2 (gap 1);
    # doc 2 has hash but no join; doc 3 has join but no hash
    rows = engine.near("hash", "join", max_gap=1, k=10)
    got = {(r["doc_id"], r["min_gap"]) for r in rows}
    assert got == set(_oracle_near(oracle, "hash", "join", 1).items())
    assert got == {(1, 1), (5, 1)}


def test_near_scores_match_weighted_or(engine, index, oracle):
    from google_spark.operators.index_query import weighted_topk

    near = {
        r["doc_id"]: round(r["score"], 9)
        for r in engine.near("hash", "join", max_gap=10, k=10)
    }
    full = {
        r["doc_id"]: round(r["score"], 9)
        for r in weighted_topk(index, {"hash": 1.0, "join": 1.0}, k=10).collect()
    }
    # every near candidate scores exactly its two-term BM25
    assert near and all(full[d] == s for d, s in near.items())
    for d, s in near.items():
        assert s == pytest.approx(
            oracle.bm25("hash", d) + oracle.bm25("join", d), abs=1e-6
        )
    # wide gap -> exactly the docs containing BOTH terms
    assert set(near) == set(_oracle_near(oracle, "hash", "join", 10)) == {1, 5}


def test_near_ordered_direction(engine, oracle):
    # 'join ... hash': doc 1 has join@2 before hash@3; doc 5 has join@2
    # but no hash after it
    rows = engine.near("join", "hash", max_gap=1, k=10, ordered=True)
    got = {(r["doc_id"], r["min_gap"]) for r in rows}
    want = _oracle_near(oracle, "join", "hash", 1, ordered=True)
    assert got == set(want.items())
    assert got == {(1, 1)}
    # unordered sees both docs
    rows = engine.near("join", "hash", max_gap=1, k=10)
    assert {r["doc_id"] for r in rows} == {1, 5}


def test_near_rejects_bad_args(engine):
    with pytest.raises(ValueError):
        engine.near("hash", "hash", max_gap=1)
    with pytest.raises(ValueError):
        engine.near("hash", "join", max_gap=0)


def test_near_absent_term_is_empty(engine):
    assert engine.near("hash", "zzzz", max_gap=5, k=10) == []


# --------------------------------------------------------------- keywords


def test_keywords_rank_and_score(spark, docs):
    from google_spark.operators.text_analysis import keywords_tfidf

    got = {
        (r["doc_id"], r["rank"]): (r["term"], r["kw_score"])
        for r in keywords_tfidf(docs, k=2).collect()
    }
    # doc 4: filter tf=2 df=1 -> 2*ln(6)=3.5835 beats scan tf=3 df=2 ->
    # 3*ln(3)=3.2958 over N=6 docs
    n = 6
    scan = round(3 * math.log(n / 2), 4)
    filt = round(2 * math.log(n / 1), 4)
    assert filt > scan
    assert got[(4, 1)] == ("filter", filt)
    assert got[(4, 2)] == ("scan", scan)
    # the empty doc contributes no rows
    assert not any(d == 6 for d, _ in got)


# -------------------------------------------------------------------- PMI


def test_pmi_planted_collocation_ranks_top(spark):
    from google_spark.operators.text_analysis import pmi_bigrams

    # "alpha beta" always adjacent (perfect collocation); "noise" words mix
    rows = [(i, "alpha beta " + ("noise%d common " % (i % 3)) * 3) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = pmi_bigrams(df, min_count=5, topn=3).collect()
    assert got[0]["bigram"] == "alpha beta"
    assert got[0]["n"] == 10
    # PMI of a perfect pair: ln((c/B) / ((c/T)^2)) > 0
    assert got[0]["pmi"] > 0


def test_pmi_min_count_floor(spark):
    from google_spark.operators.text_analysis import pmi_bigrams

    df = spark.createDataFrame(
        [(1, "rare pair common common common common")],
        "doc_id long, text string",
    )
    assert pmi_bigrams(df, min_count=2, topn=10).filter(
        F.col("bigram") == "rare pair"
    ).count() == 0


# ------------------------------------------------------------- bigram LM


def test_bigram_logprob_repetition_scores_higher(spark):
    from google_spark.operators.text_analysis import bigram_logprob

    rows = [(i, "the cat sat on the mat") for i in range(9)]
    rows.append((100, "mat the on sat cat the"))  # token salad, same unigrams
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["mean_logprob"] for r in bigram_logprob(df).collect()}
    assert got[0] > got[100]


def test_bigram_logprob_short_docs_zero(spark):
    from google_spark.operators.text_analysis import bigram_logprob

    df = spark.createDataFrame(
        [(1, "solo"), (2, ""), (3, None)], "doc_id long, text string"
    )
    got = {r["doc_id"]: (r["n_bigrams"], r["mean_logprob"])
           for r in bigram_logprob(df).collect()}
    assert got == {1: (0, 0.0), 2: (0, 0.0), 3: (0, 0.0)}


def test_regexp_term_alternation_fully_anchored(index):
    """Round-5 review finding: naive '^' + regex + '$' binds the anchors
    to the first/last ALTERNATIVE only ('^as|can$' lets 'scan' in via
    'can$'); the anchors must wrap the whole pattern."""
    from google_spark.operators.index_query import regexp_term_topk

    # neither 'as' nor 'can' is a whole term ('fast'/'scan' contain them)
    assert regexp_term_topk(index, "as|can", k=10).count() == 0
    # whole-term alternation still expands and scores
    assert regexp_term_topk(index, "scan|join", k=10).count() > 0
