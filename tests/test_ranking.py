"""Query-side ranking: normalize/stopwords, proximity, priority, snippets."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from google_spark.oracle import OracleIndex


def test_normalize_query_stopword_guard():
    from google_spark.operators.ranking import normalize_query

    # >2 words and >=2 survive -> stopwords dropped
    assert normalize_query("the hash join") == ["hash", "join"]
    # <=2 words -> untouched (reference guard, ProcessInput.java:38-53)
    assert normalize_query("the hash") == ["the", "hash"]
    # >2 words but <2 survivors -> untouched
    assert normalize_query("the of hash") == ["the", "of", "hash"]


def test_proximity_bonus_matches_oracle(spark, corpus_df, corpus_pdf):
    from google_spark.operators.index_build import tokenize_docs
    from google_spark.operators.ranking import proximity_bonus
    from google_spark.sources.tables import with_doc_identity

    docs = with_doc_identity(corpus_df)
    dt = tokenize_docs(docs, id_col="doc_id", text_col="content")
    query = "quick brown fox jumps"
    terms = query.split()
    got = {
        r["doc_id"]: r["prox_bonus"]
        for r in proximity_bonus(dt, terms).collect()
    }

    from google_spark.ids import doc_id_of

    oracle = OracleIndex(
        [
            (doc_id_of(r.repo, r.path, r.commit), r.content)
            for r in corpus_pdf.itertuples()
        ]
    )
    want = {}
    for doc_id in oracle.dl:
        b = oracle.proximity_bonus(query, doc_id)
        if b > 0:
            want[doc_id] = b
    assert got.keys() == want.keys()
    assert len(want) > 0  # planted phrase must appear
    for d, b in want.items():
        assert got[d] == pytest.approx(b, abs=1e-9)


def test_priority_score_blend_and_boost(spark):
    """The served priority blend (``SearchEngine._search_uncached``):
    W_RANK·rank + W_TEXT·bm25, plus W_PATH_BOOST when a query term is a
    word of the path; a repo without a rank takes the reference default
    (RankScore.java:49). The BM25 part is the oracle's."""
    from google_spark.operators.index_build import build_index
    from google_spark.operators.ranking import (
        DEFAULT_RANK,
        W_PATH_BOOST,
        W_RANK,
        W_TEXT,
    )
    from google_spark.search import SearchEngine

    texts = [
        (1, "hash map insert"),
        (2, "hash hash probe side"),
        (3, "hash join build side spill"),
    ]
    docs = spark.createDataFrame(texts, "doc_id long, content string")
    meta = spark.createDataFrame(
        [(1, "r1", "src/hash-map.py"), (2, "r2", "src/other.py"), (3, "r3", "x.py")],
        "doc_id long, repo string, path string",
    )
    index = build_index(spark, docs, text_col="content")
    eng = SearchEngine(index, {"r1": 0.5, "r2": 2.0}, meta)
    got = {r.doc_id: r for r in eng.search("hash", k=3)}
    oracle = OracleIndex(texts)
    bm25 = {d: oracle.bm25("hash", d) for d, _ in texts}
    assert set(got) == set(bm25)
    for d, r in got.items():
        assert r.score == pytest.approx(bm25[d], abs=1e-6)
    assert got[1].priority == pytest.approx(
        W_RANK * 0.5 + W_TEXT * bm25[1] + W_PATH_BOOST
    )
    assert got[2].priority == pytest.approx(W_RANK * 2.0 + W_TEXT * bm25[2])
    # unknown repo -> reference default rank 0.15 (RankScore.java:49)
    assert got[3].rank == DEFAULT_RANK
    assert got[3].priority == pytest.approx(
        W_RANK * DEFAULT_RANK + W_TEXT * bm25[3]
    )


def test_snippets_first_occurrence(spark):
    from google_spark.operators.ranking import snippets

    results = spark.createDataFrame([(1,), (2,)], "doc_id long")
    docs = spark.createDataFrame(
        [
            (1, "x" * 300 + " the hash join lives here " + "y" * 100),
            (2, "no match at all"),
        ],
        "doc_id long, content string",
    )
    got = {r["doc_id"]: r["snippet"] for r in snippets(results, docs, ["hash"]).collect()}
    assert "hash" in got[1]
    assert got[2].startswith("no match")


def test_bm25f_title_weight_outranks_body_only(spark):
    from google_spark.operators.ranking import bm25f_topk

    # identical bodies; doc 1 also carries the term in its title line
    docs = spark.createDataFrame(
        [
            (1, "searchable widget\nalpha beta gamma delta"),
            (2, "unrelated headline\nalpha beta gamma delta widget"),
            (3, "unrelated headline\nalpha beta gamma delta"),
        ],
        "doc_id long, text string",
    )
    got = [(r["doc_id"], r["score"]) for r in bm25f_topk(docs, "widget").collect()]
    ids = [d for d, _ in got]
    assert set(ids) == {1, 2}  # doc 3 never matches
    assert ids[0] == 1  # title hit (w=2) outranks the body-only hit
    assert got[0][1] > got[1][1] > 0

    # repeated query terms weight the per-term contribution
    once = bm25f_topk(docs, "widget").collect()[0]["score"]
    twice = bm25f_topk(docs, "widget widget").collect()[0]["score"]
    assert twice == pytest.approx(2 * once, rel=1e-3)

    assert bm25f_topk(docs, "") .count() == 0
    assert bm25f_topk(docs, "absentterm").count() == 0


def test_bm25f_plan_has_no_data_shuffle(spark):
    """Stats are collected once and re-embedded as literals, so the
    scoring pass is scan -> project -> filter -> TakeOrderedAndProject
    with no exchange and no join of any kind."""
    from google_spark.operators.ranking import bm25f_topk

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    plan = (
        bm25f_topk(docs, "hash join")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan


def test_more_like_this_finds_near_twin(spark):
    from google_spark.operators.index_build import build_index
    from google_spark.operators.index_query import more_like_this

    base = (
        "distributed query execution with shuffle exchanges and hash "
        "partitioning across executor tasks in a columnar engine"
    )
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " plus one extra trailing clause"),
            (3, "gardening tips for growing tomatoes in small urban spaces "
                "with limited sunlight and containers on balconies"),
            (4, "recipe for sourdough bread with a long cold fermentation "
                "and a very hot dutch oven bake"),
        ],
        "doc_id long, text string",
    )
    idx = build_index(spark, docs, id_col="doc_id", text_col="text")
    hits = more_like_this(idx, docs, doc_id=1, k=3).collect()
    ids = [r["doc_id"] for r in hits]
    assert 1 not in ids  # self excluded
    assert ids[0] == 2  # the near-twin ranks first

    assert more_like_this(idx, docs, doc_id=999).count() == 0


def test_bm25f_index_topk_parity_with_scan_path(spark, corpus_df):
    """VERDICT r3 #6: BM25F served from fielded postings must be rank- AND
    score-identical to the two-scan batch scorer over the same corpus —
    including multi-term, repeated-term, and title-heavy queries — and a
    save/load round trip of the fielded layout must not change results."""
    from google_spark.operators.fielded import (
        bm25f_index_topk,
        build_fielded_index,
        read_fielded_index,
        write_fielded_index,
    )
    from google_spark.operators.ranking import bm25f_topk
    from google_spark.sources.tables import with_doc_identity

    docs = with_doc_identity(corpus_df).select(
        "doc_id", F.col("content").alias("text")
    )
    findex = build_fielded_index(spark, docs)
    for q in ("def hash", "hash join index", "index index"):
        scan = [(r["doc_id"], r["score"]) for r in bm25f_topk(docs, q, k=10).collect()]
        idxp = [
            (r["doc_id"], r["score"])
            for r in bm25f_index_topk(findex, q, k=10).collect()
        ]
        assert idxp == scan and scan

    import tempfile

    out = tempfile.mkdtemp(prefix="fielded_")
    write_fielded_index(findex, out)
    loaded = read_fielded_index(spark, out)
    assert loaded.n_docs == findex.n_docs
    got = [
        (r["doc_id"], r["score"])
        for r in bm25f_index_topk(loaded, "def hash", k=10).collect()
    ]
    want = [
        (r["doc_id"], r["score"]) for r in bm25f_topk(docs, "def hash", k=10).collect()
    ]
    assert got == want


def test_bm25f_local_topk_parity_and_latency_path(spark, corpus_df):
    """The driver-side fielded serving path (point reads + NumPy) is
    score-identical to the scan and distributed index paths, both on the
    in-memory build and on a published fielded bundle through the
    bucket-pruned pyarrow tier (with a hot row cache on repeat)."""
    import tempfile

    from google_spark.operators.fielded import (
        bm25f_local_topk,
        build_fielded_index,
        read_fielded_index,
        write_fielded_index,
    )
    from google_spark.operators.ranking import bm25f_topk
    from google_spark.sources.tables import with_doc_identity

    docs = with_doc_identity(corpus_df).select(
        "doc_id", F.col("content").alias("text")
    )
    findex = build_fielded_index(spark, docs)
    out = tempfile.mkdtemp(prefix="fielded_local_")
    write_fielded_index(findex, out)
    loaded = read_fielded_index(spark, out)

    caches: dict = {}
    for q in ("def hash", "hash join index", "index index"):
        want = [
            (r["doc_id"], r["score"]) for r in bm25f_topk(docs, q, k=10).collect()
        ]
        assert bm25f_local_topk(findex, q, k=10) == want
        assert bm25f_local_topk(loaded, q, k=10, row_caches=caches) == want
        # repeat hit: served from the decoded-row caches, identical
        assert bm25f_local_topk(loaded, q, k=10, row_caches=caches) == want
    assert bm25f_local_topk(findex, "", k=10) == []
    assert bm25f_local_topk(findex, "zzqqabsent", k=10) == []


def test_more_like_this_on_stemmed_index(spark):
    """Review r4: on a stem-built index, more_like_this must tokenize the
    source doc with the SAME stem setting — unstemmed terms would miss
    the entire vocabulary and return empty 'related pages'."""
    from google_spark.operators.index_build import build_index
    from google_spark.operators.index_query import more_like_this

    base = (
        "running processes connected distributed partitioned executors "
        "shuffling exchanging columnar batches repeatedly"
    )
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " with one added trailing clause"),
            (3, "gardening tomatoes balconies sunlight containers herbs "
                "watering mulching pruning harvesting"),
        ],
        "doc_id long, text string",
    )
    idx = build_index(spark, docs, id_col="doc_id", text_col="text", stem=True)
    hits = more_like_this(idx, docs, doc_id=1, k=2, stem=True).collect()
    ids = [r["doc_id"] for r in hits]
    assert ids and ids[0] == 2 and 1 not in ids


def test_fielded_code_mode_query_tokenization(spark):
    """Review r4: bm25f_index_topk / bm25f_local_topk must tokenize the
    query with the SAME mode the fielded index was built with — a
    code-mode index queried through default simple-mode tokenization
    looks up 'parsejsonfile', which exists in neither field's vocabulary,
    and silently returns nothing."""
    from google_spark.operators.fielded import (
        bm25f_index_topk,
        bm25f_local_topk,
        build_fielded_index,
    )

    docs = spark.createDataFrame(
        [
            (1, "def parseJsonFile(path):\n    return json.load(open(path))"),
            (2, "unrelated prose about gardening and soil quality here"),
        ],
        "doc_id long, text string",
    )
    findex = build_fielded_index(spark, docs, mode="code")

    got = bm25f_index_topk(findex, "parseJsonFile", k=5, mode="code").collect()
    assert [r["doc_id"] for r in got] == [1]
    local = bm25f_local_topk(findex, "parseJsonFile", k=5, mode="code")
    assert [d for d, _ in local] == [1]
    assert abs(local[0][1] - got[0]["score"]) < 1e-9  # paths stay identical

    # the failure the fix removes: simple-mode tokenization of the same
    # query finds nothing in a code-mode index
    assert bm25f_index_topk(findex, "parseJsonFile", k=5).count() == 0


def test_fielded_deletes_mask_both_query_paths(spark, corpus_df, tmp_path):
    """VERDICT r4 #4: a doc tombstoned AFTER the fielded index was built
    must vanish from bm25f_index_topk AND bm25f_local_topk — in memory via
    apply_deletes, and on a published bundle via delete_from_fielded_index
    (+ read round trip)."""
    from google_spark.operators.fielded import (
        apply_deletes,
        bm25f_index_topk,
        bm25f_local_topk,
        build_fielded_index,
        delete_from_fielded_index,
        read_fielded_index,
        write_fielded_index,
    )
    from google_spark.sources.tables import with_doc_identity

    docs = with_doc_identity(corpus_df).select(
        "doc_id", F.col("content").alias("text")
    )
    findex = build_fielded_index(spark, docs)
    q = "def hash"
    before = [r["doc_id"] for r in bm25f_index_topk(findex, q, k=10).collect()]
    assert before
    victim = before[0]

    masked = apply_deletes(findex, [victim])
    assert findex.fields["body"].deletes is None  # functional: original kept
    after = [r["doc_id"] for r in bm25f_index_topk(masked, q, k=10).collect()]
    assert victim not in after
    local = [d for d, _ in bm25f_local_topk(masked, q, k=10)]
    assert victim not in local
    # both fielded query paths derive df/idf from the DECODED (masked)
    # candidates, so they stay score-identical to each other post-delete
    idxp = [
        (r["doc_id"], r["score"])
        for r in bm25f_index_topk(masked, q, k=10).collect()
    ]
    assert idxp == bm25f_local_topk(masked, q, k=10) and idxp

    out = str(tmp_path / "fielded_del")
    write_fielded_index(findex, out)
    assert delete_from_fielded_index(out, [victim]) == 1
    assert delete_from_fielded_index(out, [victim]) == 0  # idempotent
    loaded = read_fielded_index(spark, out)
    assert list(loaded.fields["body"].deletes) == [victim]
    got = [r["doc_id"] for r in bm25f_index_topk(loaded, q, k=10).collect()]
    assert got == after
