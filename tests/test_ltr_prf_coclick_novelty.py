"""Round-5 additions: RM3 pseudo-relevance feedback (through the
serving facade, SearchEngine.prf), the GD-trained CTR ranker, co-click
item similarity, and n-gram novelty scoring. These tests pin the
operator-level semantics: PRF widens the query with corpus-mined terms
and stays rank-sane, GD matches a NumPy replica bit-for-bit under the
9-dp gradient grid, the co-click cap bounds the quadratic blowup, and
novelty detects planted recycled text.
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


class TestCoclick:
    def test_pairs_and_cap(self, spark):
        from google_spark.operators.similarity import coclick_pairs

        # users 1..3 click items {1,2}; user 4 clicks 50 items (the
        # power user) — with cap 5 it contributes C(5,2)=10 pairs only
        rows = []
        eid = 0
        for u in (1, 2, 3):
            for it in (1, 2):
                rows.append((eid, u, "click", '{"k": %d}' % it)); eid += 1
        for it in range(50):
            rows.append((eid, 4, "click", '{"k": %d}' % it)); eid += 1
        rows.append((eid, 1, "view", '{"k": 9}')); eid += 1  # wrong type
        ev = spark.createDataFrame(
            rows, "event_id long, user_id long, event_type string, props string"
        )
        out = coclick_pairs(ev, per_user_cap=5, topn=100).collect()
        top = out[0]
        # (1,2) co-clicked by users 1,2,3 AND user 4 (cap keeps items 0..4)
        assert (top["item_a"], top["item_b"], top["users"]) == (1, 2, 4)
        # the power user contributes exactly C(5,2) pairs beyond that
        assert len(out) == 10  # C(5,2) pairs total; (1,2) shared with others
        # duplicate clicks don't double count (distinct user-item)
        assert all(r["users"] <= 4 for r in out)

    def test_view_events_excluded(self, spark):
        from google_spark.operators.similarity import coclick_pairs

        ev = spark.createDataFrame(
            [(0, 1, "view", '{"k": 1}'), (1, 1, "view", '{"k": 2}')],
            "event_id long, user_id long, event_type string, props string",
        )
        assert coclick_pairs(ev).count() == 0


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


class TestFunnel:
    def test_ordered_matching(self, spark):
        from datetime import datetime

        from google_spark.operators.events import funnel_counts

        T = lambda m: datetime(2024, 1, 1, 0, m)
        rows = [
            # user 1: full ordered funnel
            (1, "view", T(1)), (1, "click", T(2)), (1, "purchase", T(3)),
            # user 2: click BEFORE view -> stops at view
            (2, "click", T(1)), (2, "view", T(2)),
            # user 3: view+click, purchase at the SAME instant as click
            # -> strict ordering stops it at click
            (3, "view", T(1)), (3, "click", T(2)), (3, "purchase", T(2)),
            # user 4: wrong-order purchase first, then a valid chain
            (4, "purchase", T(1)), (4, "view", T(2)), (4, "click", T(3)),
            (4, "purchase", T(4)),
            # user 5: only noise
            (5, "error", T(1)),
        ]
        ev = spark.createDataFrame(
            rows, "user_id long, event_type string, ts timestamp"
        )
        out = {r["step"]: r["users"] for r in
               funnel_counts(ev, ["view", "click", "purchase"]).collect()}
        assert out == {"view": 4, "click": 3, "purchase": 2}

    def test_unreached_steps_report_zero(self, spark):
        from datetime import datetime

        from google_spark.operators.events import funnel_counts

        ev = spark.createDataFrame(
            [(1, "view", datetime(2024, 1, 1))],
            "user_id long, event_type string, ts timestamp",
        )
        rows = funnel_counts(ev, ["view", "click", "purchase"]).collect()
        assert [(r["step_no"], r["step"], r["users"]) for r in rows] == [
            (0, "view", 1), (1, "click", 0), (2, "purchase", 0),
        ]

    def test_empty_steps_raises(self, spark):
        import pytest as _pytest

        from google_spark.operators.events import funnel_counts

        ev = spark.createDataFrame(
            [], "user_id long, event_type string, ts timestamp"
        )
        for steps, msg in (([], "non-empty"), (["view", "click", "view"], "'view'")):
            with _pytest.raises(ValueError, match=msg):
                funnel_counts(ev, steps)


class TestRetention:
    def test_triangle(self, spark):
        from datetime import datetime

        from google_spark.operators.events import retention_counts

        D = lambda d, h=0: datetime(2024, 1, d, h)
        rows = [
            # cohort Jan 1: users 1,2; user 1 returns day 1 and day 9
            # (beyond horizon 7); user 2 never returns
            (1, D(1)), (1, D(2)), (1, D(10)), (2, D(1)),
            # two events same day -> one (user, date) row
            (1, D(2, 5)),
            # cohort Jan 3: user 3, returns day 2
            (3, D(3)), (3, D(5)),
        ]
        ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
        out = {
            (str(r["cohort"]), r["day_offset"]): r["users"]
            for r in retention_counts(ev, horizon_days=7).collect()
        }
        assert out == {
            ("2024-01-01", 0): 2,
            ("2024-01-01", 1): 1,
            ("2024-01-03", 0): 1,
            ("2024-01-03", 2): 1,
        }


class TestPq:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        rng = np.random.default_rng(11)
        rows = [
            (i, rng.standard_normal(16).astype(float).tolist())
            for i in range(60)
        ]
        # vec 100 = exact copy of vec 5 (the probe's nearest by any metric)
        rows.append((100, rows[5][1]))
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_copy_ranks_first_with_zero_dist(self, emb):
        from google_spark.operators.similarity import pq_topk

        out = pq_topk(emb, probe_vec_id=5, k=5, m=4, ksub=8).collect()
        # the exact copy shares every code with the probe -> ADC distance
        # equals the probe's own quantization distance, the minimum
        # possible (other vectors may tie by sharing the argmin codes,
        # never beat it)
        by_id = {r["vec_id"]: r["adist"] for r in out}
        assert 100 in by_id and by_id[100] == out[0]["adist"]

    def test_codes_shape_and_range(self, emb):
        from google_spark.operators.similarity import pq_encode, pq_train

        books = pq_train(emb, m=4, ksub=8)
        assert books.shape == (4, 8, 4)
        codes = pq_encode(emb, books).collect()
        assert all(len(r["codes"]) == 4 for r in codes)
        assert all(0 <= c < 8 for r in codes for c in r["codes"])

    def test_lloyd_reduces_quantization_error(self, emb, spark):
        from google_spark.operators.similarity import pq_encode, pq_train

        def mse(books):
            codes = {r["vec_id"]: r["codes"] for r in pq_encode(emb, books).collect()}
            vecs = {r["vec_id"]: np.array(r["embedding"]) for r in emb.collect()}
            m, _, dsub = books.shape
            tot = 0.0
            for vid, v in vecs.items():
                for s in range(m):
                    sub = v[s * dsub : (s + 1) * dsub]
                    tot += float(((sub - books[s][codes[vid][s]]) ** 2).sum())
            return tot

        e0 = mse(pq_train(emb, m=4, ksub=8, n_iters=0))
        e2 = mse(pq_train(emb, m=4, ksub=8, n_iters=2))
        # k-means MSE is monotone non-increasing per Lloyd round
        assert e2 <= e0 + 1e-9
        assert e2 < e0  # and strictly better on random data

    def test_indivisible_dim_raises(self, spark):
        from google_spark.operators.similarity import pq_train

        bad = spark.createDataFrame(
            [(0, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>"
        )
        with pytest.raises(ValueError):
            pq_train(bad, m=2, ksub=1)


class TestIvfPq:
    def test_subset_of_pq_and_bounded_by_probe_lists(self, spark):
        rng = np.random.default_rng(3)
        rows = [
            (i, rng.standard_normal(16).astype(float).tolist())
            for i in range(80)
        ]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        from google_spark.operators.similarity import (
            ivf_assignments,
            ivfpq_topk,
            pq_topk,
        )

        out = ivfpq_topk(
            emb, probe_vec_id=5, k=50, n_centroids=4, nprobe=2, m=4, ksub=8
        ).collect()
        # every scored candidate lives in one of the probed clusters
        _, assigned = ivf_assignments(emb, n_centroids=4, n_iters=0)
        clusters = {r["vec_id"]: r["cluster"] for r in assigned.collect()}
        probed = set()
        for r in out:
            probed.add(clusters[r["vec_id"]])
        assert len(probed) <= 2
        # full-corpus PQ with identical codebooks assigns the SAME adist
        # to the shared candidates (IVFPQ only prunes, never rescores)
        full = {
            r["vec_id"]: r["adist"]
            for r in pq_topk(emb, probe_vec_id=5, k=80, m=4, ksub=8).collect()
        }
        for r in out:
            assert full[r["vec_id"]] == r["adist"]


class TestIvfPqResidual:
    def test_copy_ranks_first_and_cluster_bound(self, spark):
        rng = np.random.default_rng(21)
        rows = [
            (i, rng.standard_normal(16).astype(float).tolist())
            for i in range(80)
        ]
        rows.append((200, rows[9][1]))  # exact copy of the probe
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        from google_spark.operators.similarity import (
            ivf_assignments,
            ivfpq_topk,
        )

        out = ivfpq_topk(
            emb, probe_vec_id=9, k=40, n_centroids=4, nprobe=2,
            m=4, ksub=8, residual=True,
        ).collect()
        # the copy shares the probe's cluster AND residual -> identical
        # codes -> the MINIMUM POSSIBLE ADC distance (its codes are the
        # probe's own argmin); other vectors may tie by landing on the
        # same codes (coarse ksub=8 cells) but none can beat it
        by_id = {r["vec_id"]: r["adist"] for r in out}
        assert by_id[200] == out[0]["adist"]
        _, assigned = ivf_assignments(emb, n_centroids=4, n_iters=0)
        clusters = {r["vec_id"]: r["cluster"] for r in assigned.collect()}
        assert len({clusters[r["vec_id"]] for r in out}) <= 2

    def test_residual_differs_from_raw(self, spark):
        # the two formulations are genuinely different quantizers: same
        # probe, same params, different candidate scores
        rng = np.random.default_rng(22)
        rows = [
            (i, rng.standard_normal(16).astype(float).tolist())
            for i in range(60)
        ]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        from google_spark.operators.similarity import ivfpq_topk

        raw = {
            r["vec_id"]: r["adist"]
            for r in ivfpq_topk(emb, 5, k=30, n_centroids=4, nprobe=4).collect()
        }
        res = {
            r["vec_id"]: r["adist"]
            for r in ivfpq_topk(
                emb, 5, k=30, n_centroids=4, nprobe=4, residual=True
            ).collect()
        }
        assert raw != res
