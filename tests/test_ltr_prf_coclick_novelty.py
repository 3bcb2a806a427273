"""Round-5 additions: RM3 pseudo-relevance feedback (through the
serving facade, SearchEngine.prf), the GD-trained CTR ranker, n-gram
novelty scoring and the per-term postings cap. These tests pin the
operator-level semantics: PRF widens the query with corpus-mined terms
and stays rank-sane, GD matches a NumPy replica bit-for-bit under the
9-dp gradient grid, novelty detects planted recycled text, and a capped
index keeps corpus-true statistics.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def toy_docs(spark):
    rows = [
        (1, "hash join over the big table with hash partition"),
        (2, "hash join hash join build probe side"),
        (3, "merge sort join for sorted runs"),
        (4, "hash partition shuffle exchange"),
        (5, "window aggregate over rows"),
        (6, "broadcast hash join small build side"),
        (7, "the quick brown fox jumps over lazy dog"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def toy_index(spark, toy_docs):
    from google_spark.operators.index_build import build_index

    return build_index(spark, toy_docs, id_col="doc_id", text_col="text")


@pytest.fixture(scope="module")
def toy_engine(toy_index, toy_docs):
    """The serving facade over the toy index, with the docs as its
    docstore (the PRF feedback source)."""
    from google_spark.search import SearchEngine

    content = toy_docs.select("doc_id", F.col("text").alias("content"))
    return SearchEngine(toy_index, docs=content)


class TestPrf:
    def test_expands_and_ranks(self, toy_index, toy_engine):
        from google_spark.operators.index_query import exhaustive_topk

        base = exhaustive_topk(toy_index, "hash join", k=7).collect()
        out = toy_engine.prf("hash join", k=7, fb_docs=3, fb_terms=3)
        assert out, "PRF returned nothing"
        # every scored doc contains a seed or an expansion term, and the
        # expansion can only ADD mass for seed-matching docs: the top-1
        # stays a hash-join doc
        assert out[0][0] in {r["doc_id"] for r in base[:3]}
        # expansion terms come from the feedback docs (e.g. 'build',
        # 'probe', 'partition'), so doc 4 (hash partition, no 'join')
        # must score ABOVE its plain-BM25 relative position or at least
        # still appear — and the totally unrelated doc 7 must not appear
        assert 7 not in {d for d, _ in out}

    def test_empty_query(self, toy_engine):
        assert toy_engine.prf("!!") == []

    def test_no_hits_falls_back_empty(self, toy_engine):
        assert toy_engine.prf("zzzznotaterm") == []


class TestLtr:
    def test_gd_matches_numpy_replica(self, spark):
        from google_spark.operators.ltr import train_logistic

        rng = np.random.default_rng(7)
        x1 = rng.uniform(0, 1, 400)
        x2 = rng.uniform(0, 5, 400)
        y = (x1 + 0.3 * x2 + rng.normal(0, 0.3, 400) > 1.2).astype(float)
        df = spark.createDataFrame(
            [(float(a), float(b), float(c)) for a, b, c in zip(x1, x2, y)],
            "x1 double, x2 double, y double",
        )
        w = train_logistic(df, ["x1", "x2"], "y", iters=3, lr=0.1)

        # NumPy replica with the same 9-dp gradient rounding
        wb = w1 = w2 = 0.0
        for _ in range(3):
            z = wb + w1 * x1 + w2 * x2
            p = 1.0 / (1.0 + np.exp(-z))
            r = p - y
            gb = round(float(np.mean(r)), 9)
            g1 = round(float(np.mean(r * x1)), 9)
            g2 = round(float(np.mean(r * x2)), 9)
            wb, w1, w2 = wb - 0.1 * gb, w1 - 0.1 * g1, w2 - 0.1 * g2
        # the 9-dp grid absorbs partial-sum order: bit-equality expected
        assert w == [wb, w1, w2]

    def test_learns_direction(self, spark):
        # labels correlated with x -> positive learned weight
        from google_spark.operators.ltr import score_logistic, train_logistic

        rows = [(float(i), 1.0 if i >= 50 else 0.0) for i in range(100)]
        df = spark.createDataFrame(rows, "x double, y double")
        df = df.withColumn("x", F.col("x") / 100.0)
        w = train_logistic(df, ["x"], "y", iters=5, lr=1.0)
        assert w[1] > 0.0
        scored = score_logistic(df, ["x"], w).collect()
        hi = max(scored, key=lambda r: r["x"])
        lo = min(scored, key=lambda r: r["x"])
        assert hi["p"] > lo["p"]

    def test_sigmoid_sane(self, spark):
        from google_spark.operators.ltr import score_logistic

        df = spark.createDataFrame([(0.0,), (100.0,)], "x double")
        out = {
            r["x"]: r["p"]
            for r in score_logistic(df, ["x"], [0.0, 1.0]).collect()
        }
        assert math.isclose(out[0.0], 0.5)
        assert out[100.0] > 0.999999


class TestNovelty:
    def test_planted_recycled_text(self, spark):
        from google_spark.operators.text_analysis import ngram_novelty

        fresh = "alpha beta gamma delta epsilon zeta eta theta"
        docs = spark.createDataFrame(
            [
                (1, fresh),
                (2, fresh + " iota kappa"),  # mostly recycled from doc 1
                (3, "completely different words entirely here now"),
                (4, "xy"),  # too short for a 3-shingle
            ],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: r for r in ngram_novelty(docs, shingle_k=3).collect()
        }
        assert out[1]["novelty"] == 1.0
        assert out[3]["novelty"] == 1.0
        assert out[2]["novelty"] < 0.5  # most shingles first seen in doc 1
        # shingle-less doc: 0 shingles, novelty defined as 1.0
        assert out[4]["n_shingles"] == 0 and out[4]["novelty"] == 1.0

    def test_symmetric_corpus_first_wins(self, spark):
        from google_spark.operators.text_analysis import ngram_novelty

        t = "one two three four five"
        docs = spark.createDataFrame(
            [(10, t), (20, t)], "doc_id long, text string"
        )
        out = {
            r["doc_id"]: r["novelty"]
            for r in ngram_novelty(docs, shingle_k=3).collect()
        }
        assert out[10] == 1.0 and out[20] == 0.0


class TestPrunedIndex:
    def test_df_capped_and_lossless_when_wide(self, spark, toy_docs):
        from google_spark.operators.index_build import build_index
        from google_spark.operators.index_query import exhaustive_topk

        full = build_index(spark, toy_docs)
        wide = build_index(spark, toy_docs, max_postings_per_term=1000)
        # cap wider than any posting list -> identical index results
        a = exhaustive_topk(full, "hash join", k=7).collect()
        b = exhaustive_topk(wide, "hash join", k=7).collect()
        assert [(r.doc_id, round(r.score, 6)) for r in a] == [
            (r.doc_id, round(r.score, 6)) for r in b
        ]

        pruned = build_index(spark, toy_docs, max_postings_per_term=2)
        dfs = {r["term"]: r["df"] for r in pruned.terms.collect()}
        assert max(dfs.values()) <= 2
        # highest-tf postings survive: doc 2 (tf=2 for both terms) must
        # still be retrievable from the 2-deep lists
        hits = {r.doc_id for r in exhaustive_topk(pruned, "hash join", k=7).collect()}
        assert 2 in hits

    def test_stats_stay_corpus_true(self, spark, toy_docs):
        from google_spark.operators.index_build import build_index

        full = build_index(spark, toy_docs)
        pruned = build_index(spark, toy_docs, max_postings_per_term=1)
        assert pruned.n_docs == full.n_docs
        assert pruned.avgdl == full.avgdl

    def test_prune_rank_is_group_limited(self, spark, toy_docs):
        from google_spark.operators.index_build import tokenize_docs
        from pyspark.sql import Window

        dt = tokenize_docs(toy_docs)
        w = Window.partitionBy("term").orderBy(F.desc("tf"), F.asc("doc_id"))
        plan = (
            dt.withColumn("_prank", F.row_number().over(w))
            .filter(F.col("_prank") <= 32)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "WindowGroupLimit" in plan, plan


