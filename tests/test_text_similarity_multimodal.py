"""Text analysis operators: language id, quality signals, license
detection, entropy, code rules and Unicode normalization."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_language_id(spark):
    from google_spark.operators.text_analysis import language_id

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and it is happy with all of that"),
            (2, "der hund und die katze das ist nicht ein problem mit den"),
            (3, "el perro y la casa de que los ninos una por con para"),
            (4, "le chat et la maison les arbres dans une est pour que"),
            (5, "xyzzy plugh qwerty"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["lang_pred"] for r in language_id(docs).collect()}
    assert got == {1: "en", 2: "de", 3: "es", 4: "fr", 5: "und"}


def test_repetition_scores(spark):
    from google_spark.operators.text_analysis import repetition_scores

    docs = spark.createDataFrame(
        [
            # 4 non-empty lines, 2 distinct -> dup_line_frac 0.5; the
            # repeated bigram "spam spam" dominates
            (1, "spam spam spam\nspam spam spam\n\n  ham eggs \nham eggs"),
            (2, "all distinct lines here\nno repeats at all\nquite clean"),
            (3, "x" * 25 + " normal words follow here"),  # 25-char run
            (4, "aa " * 10),  # runs of len 2 only -> no char run
            (5, "one"),  # single token -> no bigrams
            (6, ""),  # empty text
            (7, None),  # null text
            (8, "start" + "\n" * 25 + "end"),  # newline run IS a char run
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (
            r["dup_line_frac"],
            r["top_bigram_frac"],
            r["has_char_run"],
        )
        for r in repetition_scores(docs).collect()
    }
    assert set(got) == {1, 2, 3, 4, 5, 6, 7, 8}
    # doc 1: lines [spam..., spam..., ham eggs, ham eggs] -> 2/4 dups;
    # bigrams: "spam spam" x4, "spam ham"? no — per-line text is one token
    # stream: spam spam spam spam spam spam ham eggs ham eggs ->
    # 9 bigrams, "spam spam" appears 5x
    assert got[1] == (0.5, round(5 / 9, 4), False)
    assert got[2][0] == 0.0 and not got[2][2]
    assert got[3][2] is True
    assert got[4] == (0.0, 1.0, False)  # "aa aa" is every bigram
    assert got[5] == (0.0, 0.0, False)
    assert got[6] == (0.0, 0.0, False)
    assert got[7] == (0.0, 0.0, False)
    assert got[8][2] is True  # dotall: newline runs are detected


def test_unigram_logprob_ranks_garbage_low(spark):
    import math

    from google_spark.operators.text_analysis import unigram_logprob

    common = "alpha beta gamma delta " * 5
    docs = spark.createDataFrame(
        [
            (1, common),
            (2, common),
            (3, "zq9x w7kk qmzzt vvqp8 hh3j"),  # all-rare tokens
            (4, ""),
            (5, None),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["mean_logprob"])
        for r in unigram_logprob(docs).collect()
    }
    assert set(got) == {1, 2, 3, 4, 5}
    # corpus: 4 common terms x10 occurrences + 5 singletons = 45 tokens;
    # doc1 tokens all have p = 10/45, doc3 tokens all have p = 1/45
    assert got[1] == (20, round(math.log(10 / 45), 4))
    assert got[1] == got[2]
    assert got[3] == (5, round(math.log(1 / 45), 4))
    assert got[3][1] < got[1][1]  # garbage scores lower
    assert got[4] == (0, 0.0) and got[5] == (0, 0.0)


def test_doc_fingerprint_stable_and_order_insensitive(spark):
    from google_spark.operators.text_analysis import doc_fingerprint

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"), (2, "tiny")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["fingerprint"] for r in doc_fingerprint(docs).collect()}
    assert got[2] == ""  # too short to shingle
    assert len(got[1].split(",")) == 4
    # same content -> same fingerprint across runs
    again = {r["doc_id"]: r["fingerprint"] for r in doc_fingerprint(docs).collect()}
    assert got == again


def test_gopher_rules_signals_and_verdict(spark):
    from google_spark.operators.text_analysis import gopher_rules

    good = " ".join(
        ["the quick brown fox jumps over and rests with care of that be"] * 6
    )  # 78 words, mean len ~3.8, no symbols, plenty of stopwords
    bullets = "\n".join(f"- item {i}" for i in range(10))
    symbols = " ".join(["### tag"] * 30)
    ellipses = "\n".join(f"line {i} trails ..." for i in range(10))
    short = "tiny doc"
    docs = spark.createDataFrame(
        [
            (1, good),
            (2, bullets),
            (3, symbols),
            (4, ellipses),
            (5, short),
            (6, None),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in gopher_rules(docs).collect()}

    assert out[1]["keep"] is True
    assert out[1]["n_words"] == 78
    assert out[1]["n_stop_hits"] >= 2
    assert out[1]["symbol_ratio"] == 0.0

    # bullet doc: every line starts with '-', fails the bullet rule
    assert out[2]["bullet_frac"] == 1.0
    assert out[2]["keep"] is False

    # symbol doc: 90 '#' over 60 words -> ratio 1.5 >= 0.1
    assert out[3]["symbol_ratio"] > 0.1
    assert out[3]["keep"] is False

    # ellipsis doc: every line ends with '...'
    assert out[4]["ellipsis_frac"] == 1.0
    assert out[4]["keep"] is False

    # short doc: under the 50-word floor
    assert out[5]["n_words"] == 2
    assert out[5]["keep"] is False

    # NULL text: zeroed signals, dropped
    assert out[6]["n_words"] == 0
    assert out[6]["keep"] is False


def test_gopher_rules_thresholds_are_parameters(spark):
    from google_spark.operators.text_analysis import gopher_rules

    docs = spark.createDataFrame(
        [(1, "the dog and the cat have fun with that toy of the day be")],
        "doc_id long, text string",
    )
    strict = gopher_rules(docs).collect()[0]
    assert strict["keep"] is False  # 14 words < default 50-word floor
    relaxed = gopher_rules(docs, min_words=5).collect()[0]
    assert relaxed["keep"] is True


# ---------------------------------------------------------------------------
# Cavnar–Trenkle n-gram language ID
# ---------------------------------------------------------------------------


def _mk_langid_docs(spark):
    texts = {
        "en": "the quick brown fox jumps over the lazy dog and then it sleeps",
        "de": "der schnelle braune fuchs springt ueber den faulen hund und schlaeft",
        "fr": "le renard brun rapide saute par dessus le chien paresseux et dort",
    }
    rows = [
        (lang_i * 10 + j, lang, texts[lang] + f" variation {j}")
        for lang_i, lang in enumerate(sorted(texts))
        for j in range(6)
    ]
    return spark.createDataFrame(rows, "doc_id long, lang string, text string")


def test_langid_ngram_train_profile_shape(spark):
    from google_spark.operators.text_analysis import langid_ngram_train

    prof = langid_ngram_train(_mk_langid_docs(spark), profile_size=30)
    rows = prof.collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r["rank"])
    assert set(by_lang) == {"de", "en", "fr"}
    for ranks in by_lang.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 30


def test_langid_ngram_classify_recovers_labels(spark):
    from pyspark.sql import functions as F

    from google_spark.operators.text_analysis import (
        langid_ngram_classify,
        langid_ngram_train,
    )

    docs = _mk_langid_docs(spark)
    train = docs.filter(F.col("doc_id") % 2 == 0)
    test = docs.filter(F.col("doc_id") % 2 == 1)
    prof = langid_ngram_train(train, profile_size=50)
    pred = langid_ngram_classify(test, prof, profile_size=50)
    joined = pred.join(test.select("doc_id", "lang"), "doc_id").collect()
    assert len(joined) == test.count()
    acc = sum(1 for r in joined if r["lang_pred"] == r["lang"]) / len(joined)
    assert acc == 1.0  # same-vocabulary variations classify perfectly


def test_langid_ngram_empty_doc_is_und(spark):
    from google_spark.operators.text_analysis import (
        langid_ngram_classify,
        langid_ngram_train,
    )

    prof = langid_ngram_train(_mk_langid_docs(spark))
    docs = _mk_langid_docs(spark).sparkSession.createDataFrame(
        [(100, None), (101, "!!"), (102, "ab")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in langid_ngram_classify(docs, prof).collect()}
    # None / punctuation-only / shorter-than-n docs have no trigram evidence
    assert all(out[i]["lang_pred"] == "und" and out[i]["oop_distance"] == 0 for i in (100, 101, 102))


# ---------------------------------------------------------------------------
# License detection
# ---------------------------------------------------------------------------


def test_detect_license_spdx_wins_and_canonicalizes(spark):
    from google_spark.operators.text_analysis import detect_license

    docs = spark.createDataFrame(
        [
            # SPDX tag beats a contradicting phrase in the same head
            (1, "// SPDX-License-Identifier: mit\n"
                "Licensed under the Apache License, Version 2.0"),
            # unknown-family tag kept verbatim-lowercase
            (2, "# SPDX-License-Identifier: BSD-2-Clause"),
            (3, "Permission is hereby granted, free of charge, to anyone"),
            (4, "covered by the GNU General Public License v3"),
            (5, "no license text here"),
            (6, None),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in detect_license(docs).collect()}
    assert (out[1]["license"], out[1]["license_source"], out[1]["is_permissive"]) == (
        "MIT", "spdx", True,
    )
    assert (out[2]["license"], out[2]["is_permissive"]) == ("bsd-2-clause", False)
    assert (out[3]["license"], out[3]["license_source"]) == ("MIT", "phrase")
    assert out[4]["license"] == "GPL-3.0" and out[4]["is_permissive"] is False
    for i in (5, 6):
        assert (out[i]["license"], out[i]["license_source"]) == ("NOASSERTION", "none")


def test_detect_license_precedence_and_head_bound(spark):
    from google_spark.operators.text_analysis import detect_license

    docs = spark.createDataFrame(
        [
            # AGPL phrase contains the GPL phrase -> copyleft listed first wins
            (1, "under the GNU Affero General Public License as published"),
            # license text beyond head_chars is invisible
            (2, "x" * 3000 + " Permission is hereby granted, free of charge,"),
            # ...but visible with a bigger head
            (3, "x" * 300 + " Permission is hereby granted, free of charge,"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in detect_license(docs).collect()}
    assert out[1]["license"] == "AGPL-3.0"
    assert out[2]["license"] == "NOASSERTION"
    assert out[3]["license"] == "MIT"


# ---------------------------------------------------------------------------
# Character entropy
# ---------------------------------------------------------------------------


def test_char_entropy_known_values(spark):
    import math

    from google_spark.operators.text_analysis import char_entropy

    docs = spark.createDataFrame(
        [
            (1, "aaaa"),              # single symbol -> 0 bits
            (2, "abcdefghij"),        # 10 uniform symbols -> log2(10)
            (3, "aabb"),              # two uniform symbols -> 1 bit
            (4, ""),                  # empty -> 0, n=0
            (5, None),
            (6, "!!!???"),            # normalizes to nothing
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in char_entropy(docs).collect()}
    assert out[1]["char_entropy"] == 0.0 and out[1]["n_alpha_chars"] == 4
    assert abs(out[2]["char_entropy"] - round(math.log2(10), 4)) < 1e-9
    assert out[3]["char_entropy"] == 1.0
    for i in (4, 5, 6):
        assert out[i]["char_entropy"] == 0.0 and out[i]["n_alpha_chars"] == 0


def test_char_entropy_flags_boilerplate_below_prose(spark):
    from google_spark.operators.text_analysis import char_entropy

    docs = spark.createDataFrame(
        [
            (1, "click here click here click here " * 20),
            (2, "the committee's quarterly budget review examined seventeen "
                "distinct proposals covering infrastructure and zoning"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["char_entropy"] for r in char_entropy(docs).collect()}
    assert out[1] < out[2]


# ---------------------------------------------------------------------------
# StarCoder-style code rules
# ---------------------------------------------------------------------------


def test_code_rules_signals_and_keep(spark):
    from google_spark.operators.text_analysis import code_rules

    docs = spark.createDataFrame(
        [
            (1, "def f(x):\n    return x + 1\n\nprint(f(2))\n"),
            (2, "x" * 2000),                                   # minified
            (3, "// Code generated by protoc. DO NOT EDIT.\npackage x\n"),
            (4, "0123456789 " * 50),                            # digit dump
            (5, "!!! ??? *** $$$"),                             # low alnum
            (6, None),
            (7, "line one\r\nline two\r\n"),                    # CRLF
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in code_rules(docs).collect()}
    assert out[1]["keep"] is True and out[1]["n_lines"] == 5
    assert out[2]["keep"] is False and out[2]["max_line_len"] == 2000
    assert out[3]["keep"] is False and out[3]["is_autogen"] is True
    assert out[4]["keep"] is False and out[4]["digit_frac"] > 0.5
    assert out[5]["keep"] is False and out[5]["alnum_frac"] == 0.0
    assert out[6]["keep"] is False
    # CRLF tails must not count toward line length
    assert out[7]["max_line_len"] == 8 and out[7]["keep"] is True


def test_code_rules_thresholds_are_parameters(spark):
    from google_spark.operators.text_analysis import code_rules

    docs = spark.createDataFrame(
        [(1, "a" * 150)], "doc_id long, text string"
    )
    strict = code_rules(docs).collect()[0]
    assert strict["keep"] is False  # mean line 150 > default 100
    relaxed = code_rules(docs, max_mean_line_len=200.0).collect()[0]
    assert relaxed["keep"] is True


# ---------------------------------------------------------------------------
# Unicode normalization
# ---------------------------------------------------------------------------


def test_normalize_text_forms_and_nulls(spark):
    import pytest

    from google_spark.operators.text_analysis import normalize_text

    decomposed = "café"       # e + combining acute
    composed = "café"
    docs = spark.createDataFrame(
        [(1, decomposed), (2, composed), (3, None), (4, "ﬁle")],  # fi ligature
        "doc_id long, text string",
    )
    nfc = {r["doc_id"]: r for r in normalize_text(docs).collect()}
    assert nfc[1]["text_norm"] == composed and nfc[1]["changed"] is True
    assert nfc[2]["text_norm"] == composed and nfc[2]["changed"] is False
    assert nfc[3]["text_norm"] == "" and nfc[3]["changed"] is False
    assert nfc[4]["changed"] is False  # ligature survives NFC
    nfkc = {r["doc_id"]: r for r in normalize_text(docs, form="NFKC").collect()}
    assert nfkc[4]["text_norm"] == "file" and nfkc[4]["changed"] is True
    with pytest.raises(ValueError):
        normalize_text(docs, form="nfc")


def test_normalize_text_makes_dedup_see_through_encoding(spark):
    """The reason the op exists: visually-identical docs with different
    codepoint sequences hash identically AFTER normalization."""
    from pyspark.sql import functions as F

    from google_spark.operators.dedup import exact_dedup
    from google_spark.operators.text_analysis import normalize_text

    docs = spark.createDataFrame(
        [(1, "résumé draft"), (2, "résumé draft")],
        "doc_id long, text string",
    )
    # raw: two distinct docs; normalized: exact dedup collapses them
    assert exact_dedup(docs).count() == 2
    norm = normalize_text(docs).select("doc_id", F.col("text_norm").alias("text"))
    assert exact_dedup(norm).count() == 1
