"""Round-4 third-wave operators: faceted search counts and typo-tolerant
(fuzzy) retrieval."""

from __future__ import annotations

import dataclasses

import numpy as np
import pytest

DOCS = [
    (1, "hash join hash join fast scan", "en", "web"),
    (2, "hash table lookup with merge sort", "en", "web"),
    (3, "join order and join keys", "de", "web"),
    (4, "scan filter scan filter scan", "en", "code"),
    (5, "hash join merge pipeline", "de", "code"),
    (6, "", "en", "code"),
    (7, "fist fist bump", "en", "web"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        DOCS, "doc_id long, text string, lang string, source string"
    )


@pytest.fixture(scope="module")
def index(spark, docs):
    from google_spark.operators.index_build import build_index

    return build_index(spark, docs, id_col="doc_id", text_col="text")


# ------------------------------------------------------------ facet_counts


def test_facet_counts(index, docs):
    from google_spark.operators.index_query import facet_counts

    got = {
        (r["facet"], r["value"]): r["n_docs"]
        for r in facet_counts(index, docs, "hash").collect()
    }
    # docs containing 'hash': 1, 2 (en/web), 5 (de/code)
    assert got == {
        ("lang", "en"): 2,
        ("lang", "de"): 1,
        ("source", "web"): 2,
        ("source", "code"): 1,
    }


def test_facet_counts_empty_query_and_no_match(index, docs):
    from google_spark.operators.index_query import facet_counts

    assert facet_counts(index, docs, "").count() == 0
    assert facet_counts(index, docs, "zzzqqq").count() == 0


def test_facet_counts_respects_deletes(index, docs):
    from google_spark.operators.index_query import facet_counts

    masked = dataclasses.replace(index, deletes=np.array([1, 2], dtype=np.int64))
    got = {
        (r["facet"], r["value"]): r["n_docs"]
        for r in facet_counts(masked, docs, "hash").collect()
    }
    assert got == {("lang", "de"): 1, ("source", "code"): 1}


def test_facet_counts_custom_columns(index, docs):
    from google_spark.operators.index_query import facet_counts

    rows = facet_counts(index, docs, "hash", facet_cols=["lang"]).collect()
    assert {r["facet"] for r in rows} == {"lang"}


# -------------------------------------------------------------- fuzzy_topk


def _pairs(df):
    return [(r["doc_id"], round(r["score"], 9)) for r in df.collect()]


def test_fuzzy_exact_term_equals_exhaustive(index):
    from google_spark.operators.index_query import exhaustive_topk
    from google_spark.operators.spelling import fuzzy_topk

    # no vocabulary term is within distance 1 of 'hash', so the expansion
    # is exactly {hash: 1.0}
    assert _pairs(fuzzy_topk(index, "hash", k=10)) == _pairs(
        exhaustive_topk(index, "hash", k=10)
    )


def test_fuzzy_typo_scores_at_decay(index):
    from google_spark.operators.index_query import exhaustive_topk
    from google_spark.operators.spelling import fuzzy_topk

    # 'hashh' -> {hash: 0.5}; weight multiplies the score linearly
    got = _pairs(fuzzy_topk(index, "hashh", k=10, max_dist=1, decay=0.5))
    exp = [
        (d, round(s * 0.5, 9))
        for d, s in _pairs(exhaustive_topk(index, "hash", k=10))
    ]
    assert got == exp


def test_fuzzy_weight_is_max_across_query_terms(index):
    from google_spark.operators.index_query import exhaustive_topk
    from google_spark.operators.spelling import fuzzy_topk

    # 'hash' reaches the dictionary term at dist 0 (w=1) and 'hashh' at
    # dist 1 (w=0.5); max keeps 1.0 == plain exhaustive
    assert _pairs(fuzzy_topk(index, "hash hashh", k=10)) == _pairs(
        exhaustive_topk(index, "hash", k=10)
    )


def test_fuzzy_max_expand_cap(index):
    from google_spark.operators.index_query import exhaustive_topk
    from google_spark.operators.spelling import fuzzy_topk

    # 'fst' is distance 1 from both 'fast' (df 1) and 'fist' (df 1); the
    # cap keeps the term-asc winner 'fast'
    got = _pairs(fuzzy_topk(index, "fst", k=10, max_dist=1, max_expand=1))
    exp = [
        (d, round(s * 0.5, 9))
        for d, s in _pairs(exhaustive_topk(index, "fast", k=10))
    ]
    assert got == exp


def test_fuzzy_empty_and_no_match(index):
    from google_spark.operators.spelling import fuzzy_topk

    assert fuzzy_topk(index, "").count() == 0
    assert fuzzy_topk(index, "zzzzzzzzzz").count() == 0
