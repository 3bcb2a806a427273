"""Parity of the pure-Python XXH64 twin with Spark's xxhash64, and the
disk-backed serving point-lookup path built on it."""

from __future__ import annotations

import random
import string
import tempfile

from pyspark.sql import functions as F


def test_xxh64_matches_spark_bit_for_bit(spark):
    from google_spark.functions.xxh import spark_xxhash64, term_bucket

    rng = random.Random(7)
    cases = [
        "", "a", "ab", "abc", "abcd", "abcde", "abcdef", "abcdefg",
        "x" * 7, "y" * 8, "z" * 15, "q" * 16, "r" * 31, "s" * 32,
        "t" * 33, "u" * 63, "v" * 64, "w" * 100,
        "αβγ", "日本語", "café",
    ] + [
        "".join(
            rng.choices(string.ascii_lowercase + string.digits, k=rng.randint(1, 80))
        )
        for _ in range(300)
    ]
    df = spark.createDataFrame([(c,) for c in cases], "term string").select(
        "term",
        F.xxhash64("term").alias("h"),
        F.pmod(F.xxhash64("term"), F.lit(64)).cast("int").alias("tb"),
    )
    for r in df.collect():
        assert spark_xxhash64(r["term"]) == r["h"], repr(r["term"])
        assert term_bucket(r["term"], 64) == r["tb"], repr(r["term"])


def test_disk_backed_lookup_matches_spark_path(spark, corpus_df):
    """read_index serving lookups (pyarrow, no Spark job) must be
    result-identical to the in-memory Spark-collect path, including cache
    warm-up, absent terms, and empty queries."""
    from google_spark.operators.index_build import (
        build_index,
        read_index,
        write_index,
    )
    from google_spark.operators.index_query import wand_topk_local
    from google_spark.sources.tables import with_doc_identity

    idx = build_index(
        spark, with_doc_identity(corpus_df), id_col="doc_id", text_col="content"
    )
    d = tempfile.mkdtemp(prefix="diskidx_")
    write_index(idx, d)
    disk = read_index(spark, d)
    assert disk.disk_path == d and disk.n_buckets is None

    cache: dict = {}
    for q in ["hash join", "merge sort", "data", "the", "zzz absent term", ""]:
        a = wand_topk_local(idx, q, k=10)
        b = wand_topk_local(disk, q, k=10)
        c = wand_topk_local(disk, q, k=10, row_cache=cache)
        want = [(i, round(s, 9)) for i, s in a]
        assert [(i, round(s, 9)) for i, s in b] == want, q
        assert [(i, round(s, 9)) for i, s in c] == want, q


def test_xxh64_parity_over_full_corpus_vocabulary(spark):
    """Every distinct term in the testdata corpus must bucket identically
    in Python and in Spark — one mismatch means the serving tier silently
    misses that term's postings."""
    from google_spark.functions.xxh import term_bucket
    from google_spark.operators.dedup import tokens_col

    vocab = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(F.explode(tokens_col("text")).alias("term"))
        .distinct()
        .select("term", F.pmod(F.xxhash64("term"), F.lit(64)).cast("int").alias("tb"))
        .collect()
    )
    assert len(vocab) > 10
    for r in vocab:
        assert term_bucket(r["term"], 64) == r["tb"], r["term"]
