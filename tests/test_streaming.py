"""Per-stream high-water marks of the snapshot catalog (``stream_epochs``
in every manifest summary), driven through the batch build
(``jobs/build_index.py``), whose batch commits are the ``build/3``
stream's epochs: the mark survives manifest expiry, a rollback resets it
to the target's so the discarded batches are committed again, and a
delete or rollback manifest carries the marks but no batch's tags."""

from __future__ import annotations

import os

import pytest

from google_spark.operators.index_build import read_index


@pytest.fixture(scope="module")
def identified(spark, corpus_df):
    from google_spark.sources.tables import with_doc_identity

    df = with_doc_identity(corpus_df).persist()
    df.count()
    yield df
    df.unpersist()


def test_epoch_guard_survives_manifest_expiry(
    spark, identified, batch_build, batch_catalog, run_batch_build,
    batch_commits,
):
    """After ``expire`` drops every manifest that carried a batch tag, the
    head's carried-forward mark still marks every batch done: a rerun
    commits nothing. A commit of another stream adds its own mark beside
    it, and later commits carry both."""
    cat = batch_catalog
    cat.expire(keep_last=1, orphan_grace_s=0.0)
    assert all("batch" not in m["summary"] for m in cat.log()), (
        "precondition: the tagged manifests are really gone"
    )
    assert cat.manifest().summary["stream_epochs"] == {"build/3": 2}

    head = cat.head()
    seg = run_batch_build(identified, cat.root)
    assert os.path.basename(seg) == os.path.basename(batch_build[1])
    assert batch_commits == [] and cat.head() == head

    extra = spark.createDataFrame(
        [(900000001, "zzhwmterm another stream's doc")],
        "doc_id long, content string",
    )
    cat.append_docs(
        spark, extra, text_col="content",
        tags={"stream_id": "s2", "stream_epoch": 0},
    )
    assert cat.manifest().summary["stream_epochs"] == {"build/3": 2, "s2": 0}
    cat.delete_docs([900000001])
    assert cat.manifest().summary["stream_epochs"] == {"build/3": 2, "s2": 0}
    # the rerun builds no batch; it only folds the extra segment back in
    run_batch_build(identified, cat.root)
    assert batch_commits == [("append_docs", None)]
    assert cat.manifest().operation == "compact"
    assert cat.manifest().summary["stream_epochs"] == {"build/3": 2, "s2": 0}


def test_rollback_resets_stream_marks_and_replays(
    spark, identified, batch_build, batch_catalog, run_batch_build,
    batch_commits,
):
    """rollback() pins the TARGET's marks: inheriting the rolled-back
    head's marks would brand the discarded batches committed and lose
    their docs. The rerun commits them again and reproduces the build."""
    cat = batch_catalog
    n_base = int(cat.manifest(1).summary["n_docs"])
    cat.rollback(1)
    m = cat.manifest()
    assert m.operation == "rollback"
    assert m.summary["stream_epochs"] == {"build/3": 0}
    assert "stream_id" not in m.summary and "stream_epoch" not in m.summary
    assert int(m.summary["n_docs"]) == n_base

    seg = run_batch_build(identified, cat.root)
    assert batch_commits == [("append_docs", 1), ("append_docs", 2)]
    assert cat.manifest().summary["stream_epochs"] == {"build/3": 2}
    got, want = read_index(spark, seg), read_index(spark, batch_build[1])
    assert (got.n_docs, got.avgdl) == (want.n_docs, want.avgdl)

    def blobs(i):
        rows = i.postings.select("term", "shard", "postings").collect()
        return sorted((r["term"], r["shard"], bytes(r["postings"])) for r in rows)

    assert blobs(got) == blobs(want)
    # and the rerun of the finished build is a no-op again
    head = cat.head()
    run_batch_build(identified, cat.root)
    assert cat.head() == head and len(batch_commits) == 2


def test_delete_and_rollback_carry_no_batch_tags(identified, batch_catalog):
    """A rollback or delete manifest carries the catalog's own summary
    keys and marks, not the lineage tags of the commit it derives from."""
    cat = batch_catalog
    marks = cat.manifest().summary["stream_epochs"]
    doc = identified.select("doc_id").first()["doc_id"]
    cat.rollback(3)
    cat.delete_docs([doc])
    for v in cat.versions()[-2:]:
        s = cat.manifest(v).summary
        assert not {
            "batch", "content_checksum", "batch_started_at", "stream_id",
            "stream_epoch",
        } & set(s), (v, s)
        assert s["stream_epochs"] == marks == {"build/3": 2}
    assert cat.manifest().summary["n_deletes"] == 1
