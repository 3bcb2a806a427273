"""Docstore (urlpages analog): title extraction, title boost in the
serving facade, and the deterministic/sampled operators around it."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_title_extraction_cases(spark):
    from google_spark.operators.docstore import build_docstore

    docs = spark.createDataFrame(
        [
            (1, '"""Fast hash join kernel."""\nimport os\n'),
            (2, "# licensed under apache\ndef f():\n    pass\n"),
            (3, "// JS module header\nexport const x = 1;\n"),
            (4, "\n\n   \nplain first line here\nrest\n"),
            (5, ""),
            (6, None),
            (7, "x" * 200 + "\nsecond"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["title"]
        for r in build_docstore(docs, text_col="text").collect()
    }
    assert out[1] == 'Fast hash join kernel."""'
    assert out[2] == "licensed under apache"
    assert out[3] == "JS module header"
    assert out[4] == "plain first line here"
    assert out[5] == ""
    assert out[6] == ""
    assert len(out[7]) == 80


def test_content_clean_strips_cr(spark):
    from google_spark.operators.docstore import build_docstore

    docs = spark.createDataFrame(
        [(1, "line one\r\nline two\r\n")], "doc_id long, text string"
    )
    row = build_docstore(docs, text_col="text").collect()[0]
    assert "\r" not in row["content_clean"]
    assert "line one\nline two" in row["content_clean"]


def test_title_boost_promotes_title_match(spark):
    """Two docs with near-identical text scores; the one whose TITLE carries
    the query term must win by W_TITLE_BOOST (ref: RankScore.java:51-60)."""
    from google_spark.operators.index_build import build_index
    from google_spark.operators.ranking import W_TITLE_BOOST
    from google_spark.search import SearchEngine

    docs = spark.createDataFrame(
        [
            (1, "# alpha kernel\nbeta gamma delta words here now\n"),
            (2, "# unrelated header\nalpha beta gamma delta words here\n"),
        ],
        "doc_id long, content string",
    )
    src = docs.select(
        "doc_id", "content",
        F.lit("repo0").alias("repo"),
        F.concat(F.lit("src/f"), F.col("doc_id").cast("string")).alias("path"),
    )
    eng = SearchEngine.build(spark, src, with_pagerank=False)
    res = eng.search("alpha", k=2)
    by_id = {r.doc_id: r for r in res}
    assert by_id[1].title == "alpha kernel"
    assert by_id[1].priority - by_id[2].priority == pytest.approx(
        W_TITLE_BOOST + (by_id[1].score - by_id[2].score) * 10.0, rel=1e-6
    )
    assert res[0].doc_id == 1


def test_priority_score_title_boost_distributed(spark):
    """The served blend boosts a query term in the path by W_PATH_BOOST
    and in the docstore title by W_TITLE_BOOST, on top of
    W_RANK·rank + W_TEXT·bm25 (RankScore.java:51-60 boosts title and url
    alike). Equal texts give equal BM25, so the boosts are the gaps."""
    from google_spark.operators.index_build import build_index
    from google_spark.operators.ranking import (
        W_PATH_BOOST,
        W_RANK,
        W_TEXT,
        W_TITLE_BOOST,
    )
    from google_spark.oracle import OracleIndex
    from google_spark.search import SearchEngine

    texts = [(d, "alpha beta gamma") for d in (1, 2, 3)]
    docs = spark.createDataFrame(texts, "doc_id long, content string")
    meta = spark.createDataFrame(
        [
            (1, "r1", "src/alpha.py", "no match"),
            (2, "r1", "src/other.py", "alpha header"),
            (3, "r1", "src/other2.py", "nothing"),
        ],
        "doc_id long, repo string, path string, title string",
    )
    eng = SearchEngine(build_index(spark, docs, text_col="content"), {"r1": 0.5}, meta)
    out = {r.doc_id: r.priority for r in eng.search("alpha", k=3)}
    bm25 = OracleIndex(texts).bm25("alpha", 3)
    assert out[3] == pytest.approx(W_RANK * 0.5 + W_TEXT * bm25)
    assert out[1] - out[3] == pytest.approx(W_PATH_BOOST)
    assert out[2] - out[3] == pytest.approx(W_TITLE_BOOST)


def test_builtin_sample_bounds_and_subset(spark):
    """df.sample(seed): deterministic for a fixed seed, a subset of the
    source, and within loose rate bounds (the contract's reproducible
    hash-sampler is oracle-checked separately as op_sample)."""
    df = spark.range(10_000)
    s1 = df.sample(fraction=0.1, seed=7)
    s2 = df.sample(fraction=0.1, seed=7)
    a = sorted(r["id"] for r in s1.collect())
    b = sorted(r["id"] for r in s2.collect())
    assert a == b
    assert 700 <= len(a) <= 1300
    assert set(a) <= set(range(10_000))


def test_extract_symbols_grammar(spark):
    from google_spark.operators.docstore import extract_symbols

    docs = spark.createDataFrame(
        [
            (1, "def alpha(x):\n    return x\nclass Beta:\n    pass"),
            (2, "  func gamma() {\n}\nfn delta_2() {}"),
            (3, "function epsilon(a, b) {}\nstruct Zeta {}\ntrait Eta {}"),
            # NON-definitions: mention mid-line, keyword without name,
            # identifier starting with a digit
            (4, "x = def\ncall(def alpha)\ndef \ndef 9bad\nundefined token"),
        ],
        "doc_id long, text string",
    )
    got = sorted(
        (r.doc_id, r.line_no, r.kind, r.symbol)
        for r in extract_symbols(docs).collect()
    )
    assert got == [
        (1, 0, "def", "alpha"),
        (1, 2, "class", "Beta"),
        (2, 0, "func", "gamma"),
        (2, 2, "fn", "delta_2"),
        (3, 0, "function", "epsilon"),
        (3, 1, "struct", "Zeta"),
        (3, 2, "trait", "Eta"),
    ]


def test_symbol_search_rarity_ranking(spark):
    from google_spark.operators.docstore import (
        extract_symbols,
        symbol_search,
    )

    docs = spark.createDataFrame(
        [
            (1, "def main():\ndef unique_helper():"),
            (2, "def main():"),
            (3, "def main():"),
        ],
        "doc_id long, text string",
    )
    syms = extract_symbols(docs)
    # exact match: only the asked-for symbol
    exact = symbol_search(syms, "main", k=10).collect()
    assert [r.symbol for r in exact] == ["main"] * 3
    assert [r.n_defs for r in exact] == [3, 3, 3]
    assert [r.doc_id for r in exact] == [1, 2, 3]  # deterministic site order
    # prefix match ranks the once-defined symbol ABOVE the boilerplate one
    pre = symbol_search(syms, "", k=10, prefix=True).collect()
    assert pre[0].symbol == "unique_helper" and pre[0].n_defs == 1
    assert {r.symbol for r in pre[1:]} == {"main"}


def test_symbol_search_explicit_id_col_with_extra_columns(spark):
    """Review finding: the id column is an explicit parameter, so an
    enriched symbol table (extra columns) can't silently hijack the sort
    key / output id."""
    from pyspark.sql import functions as F

    from google_spark.operators.docstore import (
        extract_symbols,
        symbol_search,
    )

    docs = spark.createDataFrame(
        [(1, "def solo():")], "doc_id long, text string"
    )
    enriched = extract_symbols(docs).withColumn("rank", F.lit(0.5))
    got = symbol_search(enriched, "solo", k=5, id_col="doc_id").collect()
    assert len(got) == 1 and got[0].doc_id == 1 and got[0].symbol == "solo"


# ---------------------------------------------------------------------------
# Symbol-boundary chunking
# ---------------------------------------------------------------------------


def test_split_chunks_boundaries_and_lossless_rebuild(spark):
    from pyspark.sql import functions as F

    from google_spark.operators.docstore import split_chunks

    code = (
        "import os\n# license\n\ndef alpha(x):\n    return x + 1\n\n"
        "class Beta:\n    def gamma(self):\n        pass\n\nprint(1)"
    )
    docs = spark.createDataFrame(
        [(1, code), (2, "prose only\nno defs"), (3, "def solo(): pass"), (4, None)],
        "doc_id long, text string",
    )
    out = split_chunks(docs)
    rows = {(r["doc_id"], r["chunk_id"]): r for r in out.collect()}
    # doc 1: preamble + alpha + Beta + gamma (nested defs are boundaries
    # by the line-anchored grammar, same as extract_symbols)
    assert (rows[(1, 0)]["kind"], rows[(1, 0)]["symbol"]) == ("", "")
    assert (rows[(1, 1)]["kind"], rows[(1, 1)]["symbol"]) == ("def", "alpha")
    assert (rows[(1, 2)]["kind"], rows[(1, 2)]["symbol"]) == ("class", "Beta")
    assert (rows[(1, 3)]["kind"], rows[(1, 3)]["symbol"]) == ("def", "gamma")
    # no-defs file is one chunk 0; def-first file has no preamble
    assert set(k for k in rows if k[0] == 2) == {(2, 0)}
    assert set(k for k in rows if k[0] == 3) == {(3, 1)}
    assert rows[(4, 0)]["chunk_text"] == ""
    # lossless: rejoining the chunks reproduces each original file
    rebuilt = (
        out.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("chunk_id", "chunk_text"))),
                    lambda s: s["chunk_text"],
                ),
                "\n",
            ).alias("t")
        )
    )
    orig = {r["doc_id"]: (r["text"] or "") for r in docs.collect()}
    for r in rebuilt.collect():
        assert r["t"] == orig[r["doc_id"]]


def test_split_chunks_line_spans_cover_file(spark):
    from google_spark.operators.docstore import split_chunks

    docs = spark.createDataFrame(
        [(1, "a\ndef f(x):\nb\nc\nclass G:\nd")], "doc_id long, text string"
    )
    rows = sorted(
        (r["chunk_id"], r["start_line"], r["end_line"])
        for r in split_chunks(docs).collect()
    )
    assert rows == [(0, 0, 0), (1, 1, 3), (2, 4, 5)]


def test_split_chunks_lossless_random_battery(spark):
    """Seeded random battery: for arbitrary files (random lines, some of
    which are definition lines), rejoining the chunks in order always
    reproduces the original text byte-for-byte and chunk ids are dense
    from the first chunk."""
    import random

    from pyspark.sql import functions as F

    from google_spark.operators.docstore import split_chunks

    rng = random.Random(7)
    pieces = ["x = 1", "  # comment", "", "def f_%d(a):", "class C_%d:",
              "    return a", "print(1)", "  fn g_%d()", "struct S_%d"]
    rows = []
    for i in range(50):
        n = rng.randint(0, 12)
        lines = [rng.choice(pieces).replace("%d", str(i)) for _ in range(n)]
        rows.append((i, "\n".join(lines)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = split_chunks(docs)
    rebuilt = {
        r["doc_id"]: r["t"]
        for r in out.groupBy("doc_id").agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("chunk_id", "chunk_text"))),
                    lambda s: s["chunk_text"],
                ),
                "\n",
            ).alias("t")
        ).collect()
    }
    for i, text in rows:
        assert rebuilt[i] == text, i
    # chunk ids per doc are contiguous
    per_doc = {}
    for r in out.select("doc_id", "chunk_id").collect():
        per_doc.setdefault(r["doc_id"], []).append(r["chunk_id"])
    for i, ids in per_doc.items():
        ids = sorted(ids)
        assert ids == list(range(ids[0], ids[0] + len(ids))), i
