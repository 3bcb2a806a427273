"""Resumable batch build into a snapshot catalog (``jobs/build_index.py``):
one catalog commit per batch, a rerun resumes after the committed
high-water mark, one compaction publishes; the compacted segment is
blob-for-blob a single-shot build, and the commit log is the lineage
table (SURVEY.md §5.5)."""

from __future__ import annotations

import hashlib
import os
import re

import pytest
from pyspark.sql import functions as F

from google_spark.operators.catalog import SnapshotCatalog
from google_spark.operators.index_build import build_index, read_index
from google_spark.operators.index_query import wand_topk, wand_topk_local
from google_spark.oracle import OracleIndex

QUERIES = ("data partition merge", "def hash index", "search engine")


@pytest.fixture(scope="module")
def identified(spark, corpus_df):
    from google_spark.sources.tables import with_doc_identity

    df = with_doc_identity(corpus_df).persist()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def single(spark, identified):
    return build_index(spark, identified, id_col="doc_id", text_col="content")


def _postings_map(index):
    rows = index.postings.select(
        "term", "shard", "df", "postings", "block_last_doc", "block_max_tf", "block_min_dl"
    ).collect()
    return {
        (r["term"], r["shard"]): (
            r["df"],
            bytes(r["postings"]),
            list(r["block_last_doc"]),
            list(r["block_max_tf"]),
            list(r["block_min_dl"]),
        )
        for r in rows
    }


def _assert_equals_single_shot(index, single):
    assert index.n_docs == single.n_docs
    assert index.avgdl == pytest.approx(single.avgdl, abs=1e-12)
    # byte-identical postings per (term, shard): merging disjoint batches
    # must reproduce the single-pass encoding exactly
    assert _postings_map(index) == _postings_map(single)

    def terms(i):
        return {r["term"]: (r["df"], round(r["idf"], 12)) for r in i.terms.collect()}

    assert terms(index) == terms(single)


def _batch_log(cat):
    return {
        m["summary"]["batch"]: m
        for m in cat.log()
        if m["operation"] in ("overwrite", "append")
    }


def test_incremental_equals_single_shot(spark, batch_build, single):
    root, seg = batch_build
    _assert_equals_single_shot(read_index(spark, seg), single)
    cat = SnapshotCatalog(root)
    assert [m["operation"] for m in cat.log()] == [
        "overwrite", "append", "append", "compact"
    ]
    assert [os.path.join(root, s) for s in cat.manifest().segments] == [seg]


def test_kill_resume_byte_identical(
    spark, identified, single, run_batch_build, batch_commits, tmp_path,
    monkeypatch,
):
    """A build killed inside its second commit (after the segment was
    written) resumes after ``expire`` removed the orphan: batch 0 is not
    rebuilt, the compacted head equals a single-shot build and the
    oracle, and a third run commits nothing."""
    root = str(tmp_path / "cat")
    real = SnapshotCatalog._commit_apply

    def killed(self, operation, apply_fn):
        if operation == "append":
            raise RuntimeError("killed before the append committed")
        return real(self, operation, apply_fn)

    with monkeypatch.context() as m:
        m.setattr(SnapshotCatalog, "_commit_apply", killed)
        with pytest.raises(RuntimeError, match="killed"):
            run_batch_build(identified, root)
    cat = SnapshotCatalog(root)
    assert cat.versions() == [1] and cat.manifest().operation == "overwrite"
    assert cat.manifest().summary["stream_epochs"] == {"build/3": 0}
    assert len(os.listdir(cat.data_dir)) == 2  # batch 1's orphan segment

    cat.expire(keep_last=1, orphan_grace_s=0)
    assert len(os.listdir(cat.data_dir)) == 1
    batch_commits.clear()
    seg = run_batch_build(identified, root)
    assert batch_commits == [("append_docs", 1), ("append_docs", 2)]
    index = read_index(spark, seg)
    _assert_equals_single_shot(index, single)
    oracle = OracleIndex(
        [(r.doc_id, r.content) for r in identified.select("doc_id", "content").collect()]
    )
    for q in QUERIES:
        got = [(d, round(s, 6)) for d, s in wand_topk_local(index, q, k=10)]
        assert got == [(d, round(s, 6)) for d, s in oracle.topk(q, k=10)], q

    versions = cat.versions()
    assert run_batch_build(identified, root) == seg
    assert batch_commits == [("append_docs", 1), ("append_docs", 2)]
    assert cat.versions() == versions


def test_resume_skips_committed_batches(
    spark, identified, single, batch_catalog, run_batch_build, batch_commits
):
    """A head whose mark covers batches 0-1 (the state a kill during the
    third commit leaves) resumes with batch 2 only."""
    cat = batch_catalog
    cat.rollback(2)
    assert cat.manifest().summary["stream_epochs"] == {"build/3": 1}
    seg = run_batch_build(identified, cat.root)
    assert batch_commits == [("append_docs", 2)]
    _assert_equals_single_shot(read_index(spark, seg), single)


def test_rerun_with_other_split_starts_over(
    spark, identified, single, batch_catalog, run_batch_build, batch_commits
):
    """A finished 3-batch build rerun with 5 batches shares no mark with
    it: the rerun commits all five batches, batch 0 overwriting, so the
    head holds each doc once, equals a single-shot build and the oracle,
    and carries only the new split's mark."""
    cat = batch_catalog
    seg = run_batch_build(identified, cat.root, n_batches=5)
    assert batch_commits == [("commit_build", 0)] + [
        ("append_docs", b) for b in range(1, 5)
    ]
    assert cat.manifest().summary["stream_epochs"] == {"build/5": 4}
    index = read_index(spark, seg)
    _assert_equals_single_shot(index, single)
    oracle = OracleIndex(
        [(r.doc_id, r.content) for r in identified.select("doc_id", "content").collect()]
    )
    for q in QUERIES:
        got = [(d, round(s, 6)) for d, s in wand_topk_local(index, q, k=10)]
        assert got == [(d, round(s, 6)) for d, s in oracle.topk(q, k=10)], q


def test_lineage_metrics(identified, batch_build):
    cat = SnapshotCatalog(batch_build[0])
    rows = _batch_log(cat)
    assert set(rows) == {0, 1, 2}
    assert sum(m["summary"]["batch_docs"] for m in rows.values()) == identified.count()
    assert cat.manifest().summary["n_docs"] == identified.count()
    for m in rows.values():
        s = m["summary"]
        assert s["batch_bytes"] > 0 and m["committed_at"] > s["batch_started_at"]
        # "<n_docs>:<15-hex xor of sha256 prefixes>"
        assert re.fullmatch(r"\d+:[0-9a-f]{15}", s["content_checksum"])
        assert int(s["content_checksum"].split(":")[0]) == s["batch_docs"]


def test_batch_checksum_matches_content_sha(identified, batch_build):
    """Ingestion fidelity: the engine-side sha256 (JVM F.sha2) equals
    hashlib sha256 per row, and each batch commit's checksum tag is the
    XOR of those digests' 60-bit prefixes over the batch's docs."""
    rows = identified.select(
        "content",
        F.sha2("content", 256).alias("spark_sha"),
        "content_sha256",
        F.pmod(F.xxhash64("doc_id"), F.lit(3)).alias("batch"),
    ).collect()
    want: dict[int, list[int]] = {0: [0, 0], 1: [0, 0], 2: [0, 0]}
    for r in rows:
        sha = hashlib.sha256(r["content"].encode()).hexdigest()
        assert r["spark_sha"] == sha
        assert r["content_sha256"] == sha
        want[r["batch"]][0] += 1
        want[r["batch"]][1] ^= int(sha[:15], 16)
    got = {
        b: m["summary"]["content_checksum"]
        for b, m in _batch_log(SnapshotCatalog(batch_build[0])).items()
    }
    assert got == {b: f"{n}:{x:015x}" for b, (n, x) in want.items()}


def test_queryable_after_merge(spark, batch_build, single):
    """The published segment, opened the way ``jobs/query_topk.py`` opens
    ``--index``, answers queries rank-identically to a fresh build."""
    index = read_index(spark, batch_build[1])
    for q in QUERIES:
        a = [(r["doc_id"], round(r["score"], 9)) for r in wand_topk(index, q, k=10).collect()]
        b = [(r["doc_id"], round(r["score"], 9)) for r in wand_topk(single, q, k=10).collect()]
        assert a == b and len(a) == 10, q


def test_kill_during_compaction_is_ignored(
    spark, identified, single, batch_catalog, run_batch_build, batch_commits,
    monkeypatch,
):
    """A compaction killed after writing its segment leaves the head
    serving every batch; the rerun commits no batch, compacts once, and
    ``expire`` collects the orphan."""
    cat = batch_catalog
    cat.rollback(3)  # all batches committed, not yet compacted
    head = cat.head()
    real = SnapshotCatalog._commit_apply

    def killed(self, operation, apply_fn):
        if operation == "compact":
            raise RuntimeError("killed before the compaction committed")
        return real(self, operation, apply_fn)

    with monkeypatch.context() as m:
        m.setattr(SnapshotCatalog, "_commit_apply", killed)
        with pytest.raises(RuntimeError, match="killed"):
            run_batch_build(identified, cat.root)
    assert cat.head() == head and len(cat.manifest().segments) == 3

    seg = run_batch_build(identified, cat.root)
    assert batch_commits == []
    assert cat.head() == head + 1 and cat.manifest().operation == "compact"
    _assert_equals_single_shot(read_index(spark, seg), single)
    cat.expire(keep_last=1, orphan_grace_s=0)
    assert os.listdir(cat.data_dir) == [os.path.basename(seg)]
