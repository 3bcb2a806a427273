"""On-disk layout of the engine's parquet: every posting bucket directory
(word ``tb=``, trigram ``gb=``) holds exactly one file with rows sorted by
(key, shard), every column chunk the engine writes is zstd, and bundles
and catalog segments written by earlier builds (snappy, several files per
bucket) keep serving unchanged."""

from __future__ import annotations

import glob
import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from google_spark.operators.catalog import SnapshotCatalog
from google_spark.operators.index_query import wand_topk_local
from google_spark.oracle import OracleIndex
from google_spark.search import SearchEngine
from google_spark.sources.tables import with_doc_identity

QUERIES = ("data partition merge", "search engine", "def hash index", "zzznotthere")
BUCKETS = {"tb": "term", "gb": "gram"}


@pytest.fixture(scope="module")
def docs(spark, corpus_df):
    df = with_doc_identity(corpus_df).persist()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def bundle(spark, docs, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("layout") / "bundle")
    SearchEngine.build(spark, docs, trigram=True).save(out)
    return out


@pytest.fixture(scope="module")
def base_catalog(spark, docs, tmp_path_factory):
    """A catalog whose one snapshot holds the even half of the corpus; tests
    work on copies (segment paths in a manifest are relative)."""
    root = str(tmp_path_factory.mktemp("layout") / "cat")
    SnapshotCatalog(root).commit_build(spark, _halves(docs)[0], text_col="content")
    return root


def _catalog_copy(src: str, tmp_path) -> SnapshotCatalog:
    root = str(tmp_path / "cat")
    shutil.copytree(src, root)
    return SnapshotCatalog(root)


def _assert_matches_oracle(index, docs_df) -> None:
    oracle = OracleIndex(
        [(r.doc_id, r.content) for r in docs_df.select("doc_id", "content").collect()]
    )
    for q in QUERIES:
        got = [(d, round(s, 6)) for d, s in wand_topk_local(index, q, k=10)]
        assert got == [(d, round(s, 6)) for d, s in oracle.topk(q, k=10)], q


def _halves(docs_df):
    even = F.pmod("doc_id", F.lit(2)) == 0
    return docs_df.filter(even), docs_df.filter(~even)


def _parquet_files(root: str) -> list[str]:
    return sorted(
        os.path.join(d, f)
        for d, _, files in os.walk(root)
        for f in files
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def _codecs(root: str) -> set[str]:
    out = set()
    for path in _parquet_files(root):
        md = pq.ParquetFile(path).metadata
        for rg in range(md.num_row_groups):
            for c in range(md.num_columns):
                out.add(md.row_group(rg).column(c).compression)
    return out


def _assert_one_sorted_file_per_bucket(table_dir: str, bucket: str) -> None:
    key = BUCKETS[bucket]
    dirs = glob.glob(os.path.join(table_dir, f"{bucket}=*"))
    assert dirs, table_dir
    for d in dirs:
        files = _parquet_files(d)
        assert len(files) == 1, (d, files)
        t = pq.read_table(files[0], columns=[key, "shard"])
        rows = list(zip(t[key].to_pylist(), t["shard"].to_pylist()))
        assert rows == sorted(rows), d


def _bucket_dirs(root: str):
    """(table dir, bucket column) for every bucketed posting table under
    ``root``."""
    for bucket in BUCKETS:
        for hit in glob.glob(os.path.join(root, "**", f"{bucket}=*"), recursive=True):
            yield os.path.dirname(hit), bucket


def _assert_compact_layout(root: str) -> None:
    tables = set(_bucket_dirs(root))
    assert tables, root
    for table_dir, bucket in tables:
        _assert_one_sorted_file_per_bucket(table_dir, bucket)
    assert _codecs(root) == {"ZSTD"}


def _legacy_copy(spark, src: str, dst: str) -> None:
    """Copy the bundle or segment ``src`` to ``dst`` as builds before the
    compact layout wrote it: snappy everywhere, and the posting tables
    ``repartition(bucket, key)``-ed, so a bucket spreads over several
    files."""
    shutil.copytree(src, dst)
    for d, sub, _ in os.walk(src):
        for name in [s for s in sub if s.endswith(".parquet")]:
            path = os.path.join(d, name)
            out = os.path.join(dst, os.path.relpath(path, src))
            df = spark.read.parquet(path)
            bucket = next((b for b in BUCKETS if b in df.columns), None)
            if bucket is not None:
                w = df.repartition(4, bucket, BUCKETS[bucket]).write.partitionBy(bucket)
            else:
                w = df.write
            w.option("compression", "snappy").mode("overwrite").parquet(out)
        sub[:] = [s for s in sub if not s.endswith(".parquet")]


def test_saved_bundle_layout(bundle):
    _assert_compact_layout(bundle)
    assert {b for _, b in _bucket_dirs(bundle)} == {"tb", "gb"}


def test_loaded_bundle_matches_oracle(spark, docs, bundle):
    _assert_matches_oracle(SearchEngine.load(spark, bundle).index, docs)


def test_delete_files_are_zstd(spark, docs, bundle, tmp_path):
    from google_spark.operators.index_build import delete_from_index

    out = str(tmp_path / "b")
    shutil.copytree(bundle, out)
    victim = docs.select("doc_id").first().doc_id
    assert delete_from_index(out, [victim]) == 1
    assert _codecs(os.path.join(out, "deletes.parquet")) == {"ZSTD"}
    index = SearchEngine.load(spark, out).index
    assert victim not in {d for q in QUERIES for d, _ in wand_topk_local(index, q, k=300)}


def test_catalog_segments_layout(spark, docs, base_catalog, tmp_path):
    base, rest = _halves(docs)
    cat = _catalog_copy(base_catalog, tmp_path)
    cat.append_docs(spark, rest, text_col="content")
    cat.delete_docs([base.select("doc_id").first().doc_id])
    _assert_compact_layout(cat.root)
    assert len(cat.manifest().segments) == 2


def test_incremental_merge_layout(spark, docs, tmp_path):
    from google_spark.operators.incremental import incremental_build

    out = str(tmp_path / "inc")
    idx = incremental_build(spark, docs, out, n_batches=2, text_col="content")
    _assert_compact_layout(os.path.join(out, "index"))
    _assert_matches_oracle(idx, docs)


def test_trigram_append_layout(spark, bundle, tmp_path):
    from google_spark.operators.trigram import (
        _tri_seg_root,
        append_trigram_index,
    )

    out = str(tmp_path / "tri")
    shutil.copytree(os.path.join(bundle, "trigram"), out)
    new = spark.createDataFrame(
        [(1 << 40, "zeta eta gamma"), ((1 << 40) + 1, "theta iota kappa")],
        "doc_id long, text string",
    )
    seg = append_trigram_index(spark, out, new)
    seg_dir = os.path.join(_tri_seg_root(out), f"seg={seg:05d}")
    _assert_compact_layout(seg_dir)


def test_legacy_snappy_bundle_serves(spark, bundle, tmp_path):
    legacy = str(tmp_path / "legacy")
    _legacy_copy(spark, bundle, legacy)
    assert _codecs(legacy) == {"SNAPPY"}
    assert any(
        len(_parquet_files(d)) > 1
        for d in glob.glob(os.path.join(legacy, "postings.parquet", "tb=*"))
    )
    new = SearchEngine.load(spark, bundle)
    old = SearchEngine.load(spark, legacy)
    for q in QUERIES:
        assert wand_topk_local(old.index, q) == wand_topk_local(new.index, q), q
        assert old.search(q, k=10, snippets=True) == new.search(q, k=10, snippets=True), q
    for pat in (r"def \w+", "partition"):
        assert old.grep(pat, limit=50) == new.grep(pat, limit=50), pat


def test_catalog_legacy_segment_unions_with_zstd_append(
    spark, docs, base_catalog, tmp_path
):
    _, rest = _halves(docs)
    cat = _catalog_copy(base_catalog, tmp_path)
    (seg,) = cat.manifest().segments
    seg_dir = os.path.join(cat.root, seg)
    staged = str(tmp_path / "legacy_seg")
    _legacy_copy(spark, seg_dir, staged)
    shutil.rmtree(seg_dir)
    shutil.move(staged, seg_dir)
    cat.append_docs(spark, rest, text_col="content")
    old_seg, new_seg = (os.path.join(cat.root, s) for s in cat.manifest().segments)
    assert _codecs(old_seg) == {"SNAPPY"}
    assert _codecs(new_seg) == {"ZSTD"}
    _assert_matches_oracle(SearchEngine.from_catalog(spark, cat).index, docs)
