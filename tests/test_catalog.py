"""Snapshot catalog (operators/catalog.py): versioned publish, time
travel, merge-on-read deletes, compaction, append segments, expiry.

The load-bearing invariants:
- a republish NEVER touches a resolved snapshot's files (reader/writer
  isolation — the property the reference's index2->index rename lacks,
  ref: src/cis5550/jobs/Indexer.java:245-246);
- deleted docs vanish from every query path immediately, surviving docs'
  scores don't move until compaction (stats stay pre-delete);
- compaction output is blob-for-blob identical to a fresh build over the
  surviving docs;
- an append segment changes results only by adding the new docs.
"""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from google_spark.operators.catalog import SnapshotCatalog
from google_spark.operators.index_build import build_index
from google_spark.operators.index_query import (
    exhaustive_topk,
    wand_topk,
    wand_topk_local,
)
from google_spark.search import SearchEngine
from google_spark.sources.tables import with_doc_identity

QUERY = "def hash index"


@pytest.fixture(scope="module")
def identified(spark, corpus_df):
    df = with_doc_identity(corpus_df).persist()
    df.count()
    yield df
    df.unpersist()


def _mk_catalog(tmp_path, spark, docs):
    cat = SnapshotCatalog(str(tmp_path / "cat"))
    v = cat.commit_build(spark, docs, id_col="doc_id", text_col="content")
    assert v == 1 and cat.head() == 1
    return cat


def _local_ids(index, query=QUERY, k=10):
    return [d for d, _ in wand_topk_local(index, query, k=k)]


def test_commit_read_matches_direct_build(spark, identified, tmp_path):
    cat = _mk_catalog(tmp_path, spark, identified)
    idx = cat.read(spark)
    direct = build_index(spark, identified, id_col="doc_id", text_col="content")
    assert idx.n_docs == direct.n_docs
    assert idx.avgdl == pytest.approx(direct.avgdl)
    got = wand_topk(idx, QUERY, k=10).collect()
    want = wand_topk(direct, QUERY, k=10).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in got] == [
        (r["doc_id"], round(r["score"], 9)) for r in want
    ]
    # disk-backed point-read path agrees with the distributed path
    assert _local_ids(idx) == [r["doc_id"] for r in got]


def test_time_travel_and_reader_isolation(spark, identified, tmp_path):
    half = identified.filter(F.col("doc_id") % 2 == 0)
    cat = SnapshotCatalog(str(tmp_path / "cat"))
    cat.commit_build(spark, half, id_col="doc_id", text_col="content")
    v1_idx = cat.read(spark, version=1)
    v1_before = _local_ids(v1_idx)

    cat.commit_build(spark, identified, id_col="doc_id", text_col="content")
    assert cat.head() == 2
    assert [m["operation"] for m in cat.log()] == ["overwrite", "overwrite"]

    # the already-resolved v1 handle keeps serving identical results after
    # the republish, and a fresh time-travel read agrees
    assert _local_ids(v1_idx) == v1_before
    assert _local_ids(cat.read(spark, version=1)) == v1_before
    assert cat.read(spark, version=2).n_docs == identified.count()


def test_delete_merge_on_read_all_paths(spark, identified, tmp_path):
    cat = _mk_catalog(tmp_path, spark, identified)
    idx0 = cat.read(spark)
    before = wand_topk(idx0, QUERY, k=10).collect()
    victims = [r["doc_id"] for r in before[:3]]

    v = cat.delete_docs(victims)
    assert v == 2 and cat.manifest().operation == "delete"
    idx = cat.read(spark)
    assert sorted(idx.deletes.tolist()) == sorted(victims)

    # deleted docs are gone from every path; stats are still pre-delete
    assert idx.n_docs == idx0.n_docs
    for ids in (
        [r["doc_id"] for r in wand_topk(idx, QUERY, k=10).collect()],
        [r["doc_id"] for r in exhaustive_topk(idx, QUERY, k=10).collect()],
        _local_ids(idx),
    ):
        assert not set(ids) & set(victims)

    # the facade's boolean / explain / near routes (pyarrow point reads
    # over the segments) drop them too; before the delete they return them
    def facade_ids(index):
        eng = SearchEngine(index)
        near = eng.near("def", "index", max_gap=10**6, k=10**6)
        return (
            {d for d, _ in eng.boolean(QUERY, k=10)},
            {r["doc_id"] for r in eng.explain(QUERY, k=10)},
            {r["doc_id"] for r in near},
        )

    for before_ids, after_ids in zip(facade_ids(idx0), facade_ids(idx)):
        assert before_ids & set(victims)
        assert not after_ids & set(victims)

    # surviving docs keep their exact scores (df/avgdl frozen until compact)
    before_scores = {r["doc_id"]: r["score"] for r in before}
    after = wand_topk(idx, QUERY, k=7).collect()
    for r in after:
        if r["doc_id"] in before_scores:
            assert r["score"] == pytest.approx(before_scores[r["doc_id"]], abs=1e-12)


def _postings_signature(index):
    rows = index.postings.select(
        "term", "shard", "df", "postings",
        "block_last_doc", "block_max_tf", "block_min_dl",
    ).collect()
    return sorted(
        (
            r["term"], r["shard"], r["df"], bytes(r["postings"]),
            tuple(r["block_last_doc"]), tuple(r["block_max_tf"]),
            tuple(r["block_min_dl"]),
        )
        for r in rows
    )


def test_compact_equals_fresh_build(spark, identified, tmp_path):
    all_ids = [r["doc_id"] for r in identified.select("doc_id").collect()]
    victims = sorted(all_ids)[:: 7]  # ~14% of the corpus, spread out
    survivors = identified.filter(~F.col("doc_id").isin(victims))

    cat = _mk_catalog(tmp_path, spark, identified)
    cat.delete_docs(victims)
    v = cat.compact(spark)
    m = cat.manifest()
    assert v == 3 and m.operation == "compact" and m.deletes == []
    assert m.summary["n_deletes"] == 0

    idx = cat.read(spark)
    fresh = build_index(spark, survivors, id_col="doc_id", text_col="content")
    assert idx.n_docs == fresh.n_docs
    assert idx.avgdl == pytest.approx(fresh.avgdl, abs=1e-12)
    # blob-for-blob identical postings (shards are pure functions of
    # doc_id; block metadata recomputed from the surviving arrays)
    assert _postings_signature(idx) == _postings_signature(fresh)
    # and df/idf re-finalized exactly
    got_terms = {
        r["term"]: (r["df"], round(r["idf"], 12)) for r in idx.terms.collect()
    }
    want_terms = {
        r["term"]: (r["df"], round(r["idf"], 12)) for r in fresh.terms.collect()
    }
    assert got_terms == want_terms


def test_append_segment_matches_full_build(spark, identified, tmp_path):
    from google_spark.corpus import generate_source_files

    extra_pdf = generate_source_files(n_files=120, seed=99)
    extra = with_doc_identity(
        spark.createDataFrame(extra_pdf).repartition(4)
    ).persist()
    try:
        cat = _mk_catalog(tmp_path, spark, identified)
        v = cat.append_docs(spark, extra, id_col="doc_id", text_col="content")
        assert v == 2 and cat.manifest().operation == "append"
        assert len(cat.manifest().segments) == 2

        idx = cat.read(spark)
        union = identified.unionByName(extra)
        fresh = build_index(spark, union, id_col="doc_id", text_col="content")
        assert idx.n_docs == fresh.n_docs
        assert idx.avgdl == pytest.approx(fresh.avgdl, abs=1e-12)

        got = wand_topk(idx, QUERY, k=10).collect()
        want = wand_topk(fresh, QUERY, k=10).collect()
        assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want]
        for g, w in zip(got, want):
            assert g["score"] == pytest.approx(w["score"], abs=1e-9)
        # multi-segment pyarrow point reads (UnionDataset) agree too
        assert _local_ids(idx) == [r["doc_id"] for r in got]

        # compacting a multi-segment snapshot folds to ONE segment with
        # unchanged results
        cat.compact(spark)
        m = cat.manifest()
        assert len(m.segments) == 1
        assert _local_ids(cat.read(spark)) == [r["doc_id"] for r in got]
    finally:
        extra.unpersist()


def test_expire_keeps_head_and_gcs_data(spark, identified, tmp_path):
    cat = _mk_catalog(tmp_path, spark, identified)
    idx1 = cat.read(spark)
    victims = [r["doc_id"] for r in wand_topk(idx1, QUERY, k=3).collect()]
    cat.delete_docs(victims)
    cat.compact(spark)
    # orphan tmp dir from a "crashed" commit
    os.makedirs(os.path.join(cat.data_dir, "b99999.tmp"), exist_ok=True)

    # grace 0: this test's "crash leftovers" were created milliseconds ago
    removed = cat.expire(keep_last=1, orphan_grace_s=0.0)
    assert cat.head() == 3 and cat.versions() == [3]
    assert any(p.startswith("meta/") for p in removed)
    assert any("b99999.tmp" in p for p in removed)
    # v1's segment is gone (only v3's compacted segment survives; data
    # paths carry a per-attempt uniquifying suffix after the prefix)
    live = {e.name for e in os.scandir(cat.data_dir)}
    assert len(live) == 1 and next(iter(live)).startswith(f"b{3:05d}")
    with pytest.raises(FileNotFoundError):
        cat.manifest(1)
    # head still serves, deletions still applied
    assert not set(_local_ids(cat.read(spark))) & set(victims)


def test_delete_docs_accepts_dataframe(spark, identified, tmp_path):
    cat = _mk_catalog(tmp_path, spark, identified)
    idx0 = cat.read(spark)
    victims = [r["doc_id"] for r in wand_topk(idx0, QUERY, k=2).collect()]
    cat.delete_docs(
        spark.createDataFrame([(int(v),) for v in victims], "doc_id long")
    )
    assert not set(_local_ids(cat.read(spark))) & set(victims)


def _modified_rows(corpus_pdf, n=25, marker="upserted freshness marker tokens"):
    """Copy of the first n corpus rows with new commits + changed content
    (a new commit hashes to a NEW doc_id via with_doc_identity)."""
    changed = corpus_pdf.head(n).copy()
    changed["commit"] = changed["commit"] + "f"
    changed["content"] = changed["content"] + f"\n// {marker}\n"
    return changed


def test_upsert_replaces_changed_files(spark, identified, corpus_pdf, tmp_path):
    changed = _modified_rows(corpus_pdf)
    new_files = with_doc_identity(spark.createDataFrame(changed))
    updated_pdf = corpus_pdf.copy()
    updated_pdf.iloc[: len(changed), :] = changed.values
    updated = with_doc_identity(spark.createDataFrame(updated_pdf).repartition(8))

    cat = _mk_catalog(tmp_path, spark, identified)
    v = cat.upsert_files(spark, new_files, text_col="content")
    m = cat.manifest()
    assert v == 2 and m.operation == "upsert"
    assert m.summary["n_deletes"] == len(changed)

    idx = cat.read(spark)
    # pure replace: corpus size unchanged, avgdl advanced exactly
    fresh = build_index(spark, updated, id_col="doc_id", text_col="content")
    assert idx.n_docs == fresh.n_docs
    assert idx.avgdl == pytest.approx(fresh.avgdl, abs=1e-9)
    # the replaced doc versions never surface; the new versions rank for
    # their marker tokens
    old_ids = {
        int(r["doc_id"])
        for r in identified.join(
            new_files.select("repo", "path"), ["repo", "path"]
        ).select("doc_id").collect()
    }
    hits = wand_topk(idx, "upserted freshness marker", k=10).collect()
    hit_ids = {r["doc_id"] for r in hits}
    assert hit_ids and not hit_ids & old_ids
    assert not set(_local_ids(idx, "def hash index", k=20)) & old_ids

    # compaction folds the upsert into one segment that is blob-identical
    # to a fresh build over the updated corpus
    cat.compact(spark)
    idx2 = cat.read(spark)
    assert len(cat.manifest().segments) == 1
    assert _postings_signature(idx2) == _postings_signature(fresh)
    assert idx2.avgdl == pytest.approx(fresh.avgdl, abs=1e-9)


def test_upsert_unchanged_commit_is_noop(spark, identified, corpus_pdf, tmp_path):
    cat = _mk_catalog(tmp_path, spark, identified)
    before = wand_topk_local(cat.read(spark), QUERY, k=10)

    same = with_doc_identity(spark.createDataFrame(corpus_pdf.head(20).copy()))
    cat.upsert_files(spark, same, text_col="content")
    m = cat.manifest()
    # same (repo, path, commit) => same doc_id => nothing tombstoned,
    # nothing re-indexed (no doubled postings)
    assert m.deletes == [] and m.summary["n_deletes"] == 0
    assert m.summary["n_docs"] == identified.count()
    after = wand_topk_local(cat.read(spark), QUERY, k=10)
    assert [(d, round(s, 12)) for d, s in after] == [
        (d, round(s, 12)) for d, s in before
    ]


def test_rollback_restores_state_and_survives_expire(spark, identified, tmp_path):
    """rollback(v) is an O(1) metadata commit whose reads are identical to
    the target snapshot; expire's reference-based GC keeps every file the
    rollback head needs even when the target manifest itself is expired."""
    cat = _mk_catalog(tmp_path, spark, identified)
    v1_hits = [
        (r["doc_id"], round(r["score"], 9))
        for r in wand_topk(cat.read(spark), QUERY, k=10).collect()
    ]
    victims = [d for d, _ in v1_hits[:3]]
    v2 = cat.delete_docs(victims)
    assert not {d for d, _ in _scores(cat.read(spark))} & set(victims)

    v3 = cat.rollback(1)
    assert v3 == 3 and cat.head() == 3
    m = cat.manifest()
    assert m.operation == "rollback" and m.summary["rolled_back_to"] == 1
    restored = [
        (r["doc_id"], round(r["score"], 9))
        for r in wand_topk(cat.read(spark), QUERY, k=10).collect()
    ]
    assert restored == v1_hits
    # the rolled-past delete snapshot is still time-travelable pre-expire
    assert not {
        d for d, _ in _scores(cat.read(spark, version=v2))
    } & set(victims)

    # expire down to the head only: v1/v2 manifests go, but the segment
    # the rollback references must survive and still serve reads
    removed = cat.expire(keep_last=1)
    assert any(p.startswith("meta/") for p in removed)
    after = [
        (r["doc_id"], round(r["score"], 9))
        for r in wand_topk(cat.read(spark), QUERY, k=10).collect()
    ]
    assert after == v1_hits


def _scores(index):
    return [
        (r["doc_id"], r["score"])
        for r in wand_topk(index, QUERY, k=10).collect()
    ]


def test_batch_topk_masks_catalog_deletes(spark, identified, tmp_path):
    """The batch scoring path honors merge-on-read deletes: victims vanish
    from every query in the batch, survivors keep their frozen scores."""
    from google_spark.operators.index_query import batch_topk

    cat = _mk_catalog(tmp_path, spark, identified)
    qdf = spark.createDataFrame(
        [(1, QUERY), (2, "merge sort")], "query_id long, query string"
    )
    before = batch_topk(cat.read(spark), qdf, k=10).collect()
    victims = sorted({r["doc_id"] for r in before})[:3]
    cat.delete_docs(victims)

    after = batch_topk(cat.read(spark), qdf, k=10).collect()
    hit = {r["doc_id"] for r in after}
    assert hit and not hit & set(victims)
    frozen = {(r["query_id"], r["doc_id"]): r["score"] for r in before}
    for r in after:
        key = (r["query_id"], r["doc_id"])
        if key in frozen:
            assert r["score"] == pytest.approx(frozen[key], abs=1e-12)


def test_search_engine_over_catalog_snapshot(spark, identified, tmp_path):
    """The serving facade composes with catalog snapshots: deletes flow
    through the hot-term row cache (decoded entries are masked at decode
    time), and proximity positions never resurrect a deleted doc."""
    from google_spark.search import SearchEngine

    cat = _mk_catalog(tmp_path, spark, identified)
    meta = identified.select("doc_id", "repo", "path")

    eng0 = SearchEngine(cat.read(spark), None, meta, None)
    before = eng0.search(QUERY, k=10)
    victims = [r.doc_id for r in before[:3]]
    cat.delete_docs(victims)

    eng = SearchEngine(cat.read(spark), None, meta, None)
    got = eng.search(QUERY, k=10, proximity=True)
    assert got and not {r.doc_id for r in got} & set(victims)
    # second call serves from the decoded-row cache — identical, still masked
    again = eng.search(QUERY, k=10, proximity=True)
    assert [(r.doc_id, r.priority) for r in again] == [
        (r.doc_id, r.priority) for r in got
    ]


def test_write_index_preserves_mor_deletes(spark, identified, tmp_path):
    """ADVICE r3: publishing a bundle from a snapshot that carries
    merge-on-read delete files must NOT resurrect the tombstoned docs —
    write_index persists deletes.parquet and read_index restores it, so
    the loaded engine masks them on every path (including the pyarrow
    point-read serving tier)."""
    from google_spark.operators.index_build import read_index, write_index

    cat = _mk_catalog(tmp_path, spark, identified)
    before = wand_topk(cat.read(spark), QUERY, k=10).collect()
    victims = [r["doc_id"] for r in before[:3]]
    cat.delete_docs(victims)

    out = str(tmp_path / "bundle")
    snap = cat.read(spark)
    write_index(snap, out)
    loaded = read_index(spark, out)
    assert loaded.deletes is not None
    assert sorted(loaded.deletes.tolist()) == sorted(victims)
    for ids in (
        [r["doc_id"] for r in wand_topk(loaded, QUERY, k=10).collect()],
        _local_ids(loaded),  # pyarrow point-read path
    ):
        assert ids and not set(ids) & set(victims)

    # a compacted snapshot publishes a tombstone-free bundle (no sidecar)
    cat.compact(spark)
    out2 = str(tmp_path / "bundle2")
    write_index(cat.read(spark), out2)
    assert not os.path.isdir(os.path.join(out2, "deletes.parquet"))
    assert read_index(spark, out2).deletes is None


def test_search_engine_save_load_preserves_deletes(spark, identified, tmp_path):
    """SearchEngine.save on a MOR snapshot round-trips the delete mask."""
    from google_spark.search import SearchEngine

    cat = _mk_catalog(tmp_path, spark, identified)
    eng0 = SearchEngine(cat.read(spark))
    victims = [r.doc_id for r in eng0.search(QUERY, k=5)[:2]]
    cat.delete_docs(victims)

    out = str(tmp_path / "engine_bundle")
    SearchEngine(cat.read(spark)).save(out)
    eng = SearchEngine.load(spark, out)
    got = eng.search(QUERY, k=10)
    assert got and not {r.doc_id for r in got} & set(victims)


def test_orphan_segment_dir_does_not_block_commit(spark, identified, tmp_path):
    """ADVICE r3: a crash after a segment's os.replace but before its
    manifest write leaves an orphan dir; per-attempt unique data-path
    names mean a retried (or concurrent) commit can never rename onto it,
    and expire() garbage-collects it as an unreferenced path."""
    cat = _mk_catalog(tmp_path, spark, identified)
    orphan = os.path.join(cat.data_dir, "b00002-dead01")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "stale.bin"), "w") as f:
        f.write("leftover from a crashed commit")

    extra = identified.limit(5).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.col("content").alias("content"),
    )
    v = cat.append_docs(spark, extra, id_col="doc_id", text_col="content")
    assert v == 2
    assert wand_topk(cat.read(spark), QUERY, k=5).count() == 5
    # the default orphan grace treats the fresh dir as a possible
    # commit-in-progress and leaves it alone...
    assert "data/b00002-dead01" not in cat.expire(keep_last=2)
    assert os.path.exists(orphan)
    # ...grace 0 (an operator who KNOWS no writer is in flight) GCs it
    removed = cat.expire(keep_last=2, orphan_grace_s=0.0)
    assert "data/b00002-dead01" in removed
    assert not os.path.exists(orphan)


def test_two_writer_append_and_delete_both_land(spark, identified, tmp_path):
    """VERDICT r3 #9: two writers racing an append and a delete from the
    same base snapshot must BOTH commit — the commit lock serializes the
    metadata flip and each commit re-derives against the freshest parent,
    so neither loses the other's segments or delete files."""
    import threading

    cat = _mk_catalog(tmp_path, spark, identified)
    victims = [
        r["doc_id"] for r in wand_topk(cat.read(spark), QUERY, k=3).collect()
    ]
    n0 = int(cat.manifest().summary["n_docs"])

    writer_a = SnapshotCatalog(cat.root)
    writer_b = SnapshotCatalog(cat.root)
    extra = identified.limit(5).select(
        (F.col("doc_id") + 20_000_000).alias("doc_id"),
        F.col("content").alias("content"),
    ).persist()
    extra_ids = {int(r["doc_id"]) for r in extra.select("doc_id").collect()}
    errs = []

    def do_append():
        try:
            writer_a.append_docs(spark, extra, id_col="doc_id", text_col="content")
        except Exception as e:  # noqa: BLE001 — surfaced in the assert
            errs.append(e)

    def do_delete():
        try:
            writer_b.delete_docs(victims)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    ts = [threading.Thread(target=do_append), threading.Thread(target=do_delete)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    m = cat.manifest()
    assert cat.head() == 3  # both commits landed
    assert len(m.segments) == 2 and len(m.deletes) == 1
    assert int(m.summary["n_docs"]) == n0 + 5
    assert int(m.summary["n_deletes"]) == len(victims)
    assert int(m.summary["n_pending"]) == len(victims)

    idx = cat.read(spark)
    got = {r["doc_id"] for r in wand_topk(idx, QUERY, k=20).collect()}
    assert not got & set(victims)  # the delete is live
    # the appended docs are live in the snapshot (doclens sidecar covers
    # every segment)
    live_ids = {
        int(r["doc_id"])
        for r in spark.read.parquet(
            *[f"{cat.root}/{s}/doclens.parquet" for s in m.segments]
        ).collect()
    }
    assert extra_ids <= live_ids
    extra.unpersist()


def test_commit_cas_collision_retries_not_clobbers(spark, identified, tmp_path):
    """Review r4: the manifest write is an atomic exclusive create — if a
    concurrent writer already claimed the version number this commit
    computed (two writers slipped past a raced stale-lock break), the
    commit must NOT overwrite the foreign manifest; it re-derives against
    the winner's commit and lands on the next version."""
    import json

    cat = _mk_catalog(tmp_path, spark, identified)
    v1 = cat.head()
    # plant a foreign manifest at the version the next commit will claim
    # (as if another writer won the CAS but hasn't flipped HEAD yet)
    planted = os.path.join(cat.meta_dir, f"v{v1 + 1:05d}.json")
    with open(os.path.join(cat.meta_dir, f"v{v1:05d}.json")) as f:
        twin = json.load(f)
    twin["version"] = v1 + 1
    with open(planted, "w") as f:
        json.dump(twin, f)
    with open(planted) as f:
        planted_before = f.read()

    # a stale versions() view on the FIRST derive makes the commit compute
    # the already-claimed v1+1 — exactly the two-writers race window
    real_versions = cat.versions
    calls = {"n": 0}

    def stale_versions():
        calls["n"] += 1
        if calls["n"] == 1:
            return [x for x in real_versions() if x != v1 + 1]
        return real_versions()

    cat.versions = stale_versions
    try:
        v = cat.rollback(v1)  # any metadata commit exercises _commit_apply
    finally:
        del cat.versions
    assert calls["n"] >= 2, "CAS collision must trigger a re-derive"
    assert v == v1 + 2, "commit must skip the claimed version"
    with open(planted) as f:
        assert f.read() == planted_before, "foreign manifest clobbered"
    assert cat.head() == v
    assert [m["version"] for m in cat.log()] == [v1, v1 + 1, v]


def test_commit_lock_release_is_token_checked(tmp_path):
    """A holder stalled past stale_after whose lock was broken must not
    delete its successor's lock at release."""
    cat = SnapshotCatalog(str(tmp_path / "cat_lock"))
    lock = os.path.join(cat.root, "COMMIT_LOCK")
    with cat._commit_lock():
        # a breaker replaces our lock while we are "stalled"
        os.remove(lock)
        with open(lock, "w") as f:
            f.write("foreigntoken 123 0.0\n")
    with open(lock) as f:
        assert f.read().startswith("foreigntoken"), (
            "stalled holder removed its successor's lock"
        )
    os.remove(lock)
    # and a normal acquire/release still cleans up after itself
    with cat._commit_lock():
        assert os.path.exists(lock)
    assert not os.path.exists(lock)


def _no_spark(*_a, **_k):
    raise AssertionError("a catalog snapshot query opened a Spark session")


def test_session_free_catalog_snapshot_matches_spark_and_oracle(
    spark, identified, tmp_path, monkeypatch
):
    """A snapshot of two segments plus a delete file opens with no Spark
    session (``from_catalog(None, ...)``) and answers plain, phrase and
    ``-term`` queries exactly like the Spark-opened engine: every score
    equals OracleIndex BM25 (stats stay pre-delete, so the oracle indexes
    every committed doc) within 1e-6, phrases and exclusions hold, and no
    deleted doc appears."""
    import google_spark.session as session
    from google_spark.operators.ranking import parse_query_ext
    from google_spark.oracle import OracleIndex

    rows = identified.select("doc_id", "content").orderBy("doc_id").collect()
    ids = [r["doc_id"] for r in rows]
    cut = len(ids) * 3 // 4
    cat = SnapshotCatalog(str(tmp_path / "cat"))
    cat.commit_build(
        spark, identified.filter(F.col("doc_id").isin(ids[:cut])),
        id_col="doc_id", text_col="content",
    )
    cat.append_docs(
        spark, identified.filter(F.col("doc_id").isin(ids[cut:])),
        id_col="doc_id", text_col="content",
    )
    queries = [
        QUERY, "data partition", "merge sort search", "zzznotthere",
        '"return result"', '"data data" index', "data -partition",
        "def index -hash",
    ]
    before = SearchEngine.from_catalog(spark, cat)
    victims = sorted(
        {r.doc_id for q in queries for r in before.search(q, k=2)}
        | set(ids[cut::17])
    )
    cat.delete_docs(victims)
    m = cat.manifest()
    assert len(m.segments) == 2 and m.deletes

    live = SearchEngine.from_catalog(spark, cat)
    want = {q: live.search(q, k=10) for q in queries}
    oracle = OracleIndex([(r["doc_id"], r["content"]) for r in rows])
    monkeypatch.setattr(session, "get_spark", _no_spark)
    free = SearchEngine.from_catalog(None, cat)
    for q in queries:
        got = free.search(q, k=10)
        assert [(r.doc_id, r.score, r.priority) for r in got] == [
            (r.doc_id, r.score, r.priority) for r in want[q]
        ], q
        assert bool(got) == (q != "zzznotthere"), q
        assert not {r.doc_id for r in got} & set(victims), q
        spec = parse_query_ext(q)
        scored = oracle.query_terms(" ".join(spec.terms))
        for r in got:
            assert r.score == pytest.approx(
                sum(oracle.bm25(t, r.doc_id) for t in scored), abs=1e-6
            ), (q, r.doc_id)
            for t in spec.excludes:
                assert r.doc_id not in oracle.postings.get(t, {}), (q, t)
            for a, b in spec.phrases:
                pos = oracle.postings[a][r.doc_id]
                nxt = set(oracle.postings[b][r.doc_id])
                assert any(p + 1 in nxt for p in pos), (q, r.doc_id)


def test_read_takes_deletes_from_the_manifest_it_resolved(
    spark, identified, tmp_path, monkeypatch
):
    """read(version=None) resolves HEAD once: a delete commit landing
    between its manifest read and its delete read must not pair v1's
    segments with v2's delete files."""
    cat = _mk_catalog(tmp_path, spark, identified)
    victim = int(identified.select("doc_id").first()[0])
    assert cat.delete_docs([victim]) == 2
    heads = iter([1, 2, 2, 2])
    monkeypatch.setattr(cat, "head", lambda: next(heads))
    idx = cat.read(None)
    assert idx.deletes is None
    assert cat.read(None).deletes.tolist() == [victim]


def test_write_index_rewrite_clears_stale_deletes(spark, tmp_path):
    """Review finding: a same-path rewrite from a tombstone-free index
    must clear deletes.parquet left by an earlier delete_from_index, or
    the rebuilt docs stay invisibly masked forever."""
    from google_spark.operators.index_build import (
        build_index,
        delete_from_index,
        read_index,
        write_index,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon zeta")],
        "doc_id long, text string",
    )
    out = str(tmp_path / "widx")
    idx = build_index(spark, docs, id_col="doc_id", text_col="text")
    write_index(idx, out)
    delete_from_index(out, [1])
    assert read_index(spark, out).deletes is not None
    # rebuild (e.g. from a compacted corpus) into the SAME path
    write_index(build_index(spark, docs, id_col="doc_id", text_col="text"), out)
    assert read_index(spark, out).deletes is None
