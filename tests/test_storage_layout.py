"""On-disk layout of the engine's parquet: every posting and term table
(word postings/terms, trigram gram postings/stats) is range-sorted by its
key — files and row groups of at most POSTINGS_ROW_GROUP_ROWS rows hold
ascending, disjoint key ranges, rows sorted by (key, shard), min/max
statistics on the key only — the docstore is doc_id-sorted row groups of
at most DOCSTORE_ROW_GROUP_ROWS docs, every column chunk the engine writes
is zstd, and bundles and catalog segments written by earlier builds
(snappy, ``tb=``/``gb=`` bucket directories of several files, one row
group per file) keep serving unchanged, alone or mixed with key-sorted
segments in one catalog."""

from __future__ import annotations

import glob
import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from google_spark.operators.catalog import SnapshotCatalog
from google_spark.operators.index_build import (
    POSTINGS_ROW_GROUP_ROWS,
    term_bucket_col,
)
from google_spark.operators.index_query import wand_topk, wand_topk_local
from google_spark.oracle import OracleIndex
from google_spark.search import DOCSTORE_ROW_GROUP_ROWS, SearchEngine
from google_spark.sources.tables import with_doc_identity

QUERIES = ("data partition merge", "search engine", "def hash index", "zzznotthere")
# key-sorted table -> its key; the posting tables' bucket column in the
# layout of earlier builds
KEYS = {
    "postings.parquet": "term",
    "terms.parquet": "term",
    "gram_postings.parquet": "gram",
    "gram_stats.parquet": "gram",
}
BUCKETS = {"postings.parquet": "tb", "gram_postings.parquet": "gb"}
LEGACY_N_BUCKETS = 64


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


def _assert_key_sorted(table_dir: str, key: str) -> None:
    """``table_dir`` is key-sorted: no bucket directory; rows sorted by
    (key, shard) in each file; files and row groups of at most
    POSTINGS_ROW_GROUP_ROWS rows cover ascending key ranges, disjoint
    across files and sharing at most a boundary key across row groups (a
    key's few shard rows may straddle a row-group cut); min/max statistics
    on the key column only."""
    assert not glob.glob(os.path.join(table_dir, "*=*")), table_dir
    files = _parquet_files(table_dir)
    assert files, table_dir
    file_spans, group_spans = [], []
    for path in files:
        f = pq.ParquetFile(path)
        cols = [key] + (["shard"] if "shard" in f.schema_arrow.names else [])
        t = f.read(columns=cols)
        rows = list(zip(*(t[c].to_pylist() for c in cols)))
        assert rows == sorted(rows), path
        file_spans.append((rows[0][0], rows[-1][0]))
        md = f.metadata
        for r in range(md.num_row_groups):
            rg = md.row_group(r)
            assert rg.num_rows <= POSTINGS_ROW_GROUP_ROWS, (path, r, rg.num_rows)
            for c in range(rg.num_columns):
                col = rg.column(c)
                st = col.statistics
                has = st is not None and st.has_min_max
                assert has == (col.path_in_schema == key), (path, col.path_in_schema)
                if col.path_in_schema == key:
                    group_spans.append((st.min, st.max))
    file_spans.sort()
    assert all(a[1] < b[0] for a, b in zip(file_spans, file_spans[1:])), file_spans
    group_spans.sort()
    assert all(a[1] <= b[0] for a, b in zip(group_spans, group_spans[1:])), group_spans


def _key_sorted_tables(root: str):
    """(table dir, key) for every posting and term table under ``root``."""
    for name, key in KEYS.items():
        for hit in glob.glob(os.path.join(root, "**", name), recursive=True):
            yield hit, key


def _assert_compact_layout(root: str) -> None:
    tables = set(_key_sorted_tables(root))
    assert {os.path.basename(t) for t, _ in tables} & set(BUCKETS), root
    for table_dir, key in tables:
        _assert_key_sorted(table_dir, key)
    assert _codecs(root) == {"ZSTD"}


def _legacy_copy(spark, src: str, dst: str) -> None:
    """Copy the bundle or segment ``src`` to ``dst`` as builds before
    key-sorted files wrote it: snappy everywhere, the posting tables
    partitioned by ``tb``/``gb`` = bucket(key) and ``repartition(bucket,
    key)``-ed, so a bucket spreads over several files, and the bucket
    count recorded in the bundle's stats / gram meta."""
    shutil.copytree(src, dst)
    for d, sub, _ in os.walk(src):
        for name in [s for s in sub if s.endswith(".parquet")]:
            path = os.path.join(d, name)
            out = os.path.join(dst, os.path.relpath(path, src))
            df = spark.read.parquet(path)
            if name in BUCKETS:
                bucket, key = BUCKETS[name], KEYS[name]
                w = (
                    df.withColumn(bucket, term_bucket_col(key, LEGACY_N_BUCKETS))
                    .repartition(4, bucket, key)
                    .write.partitionBy(bucket)
                )
            elif name in ("stats.parquet", "gram_meta.parquet"):
                w = df.withColumn(
                    "n_buckets", F.lit(LEGACY_N_BUCKETS).cast("int")
                ).write
            else:
                w = df.write
            w.option("compression", "snappy").mode("overwrite").parquet(out)
        sub[:] = [s for s in sub if not s.endswith(".parquet")]


def test_saved_bundle_layout(bundle):
    _assert_compact_layout(bundle)
    assert {os.path.relpath(t, bundle) for t, _ in _key_sorted_tables(bundle)} == {
        "postings.parquet",
        "terms.parquet",
        "trigram/gram_postings.parquet",
        "trigram/gram_stats.parquet",
    }
    # no min/max for the docstore's content: nothing prunes on it
    for path in _parquet_files(os.path.join(bundle, "docstore.parquet")):
        md = pq.read_metadata(path)
        col = md.schema.to_arrow_schema().names.index("content")
        for r in range(md.num_row_groups):
            st = md.row_group(r).column(col).statistics
            assert st is None or not st.has_min_max, path


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


def test_incremental_merge_layout(spark, docs, batch_build):
    from google_spark.operators.index_build import read_index

    seg = batch_build[1]  # the batch build's compacted segment
    _assert_compact_layout(seg)
    _assert_matches_oracle(read_index(spark, seg), docs)


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


def test_docstore_row_groups_prune_snippet_reads(bundle, monkeypatch):
    """The docstore is doc_id-sorted zstd row groups of at most
    DOCSTORE_ROW_GROUP_ROWS docs with disjoint id ranges, and a snippet
    read decodes only the row groups holding a returned doc."""
    root = os.path.join(bundle, "docstore.parquet")
    file_spans, group_spans, n_groups = [], [], []
    for path in _parquet_files(root):
        f = pq.ParquetFile(path)
        ids = f.read(columns=["doc_id"]).column("doc_id").to_pylist()
        assert ids == sorted(ids), path
        file_spans.append((ids[0], ids[-1]))
        col = f.schema_arrow.names.index("doc_id")
        n_groups.append(f.metadata.num_row_groups)
        for r in range(f.metadata.num_row_groups):
            rg = f.metadata.row_group(r)
            assert rg.num_rows <= DOCSTORE_ROW_GROUP_ROWS, (path, r, rg.num_rows)
            st = rg.column(col).statistics
            group_spans.append((st.min, st.max))
    assert max(n_groups) > 1  # some file holds more than one group of docs
    for spans in (file_spans, group_spans):
        spans = sorted(spans)
        assert all(a[1] < b[0] for a, b in zip(spans, spans[1:])), spans
    assert _codecs(root) == {"ZSTD"}

    eng = SearchEngine.load(None, bundle)
    opened = []
    real = pq.ParquetFile.read_row_groups

    def spy(self, row_groups, **kw):
        if "content" in self.schema_arrow.names:
            col = self.schema_arrow.names.index("doc_id")
            for r in row_groups:
                st = self.metadata.row_group(r).column(col).statistics
                opened.append((st.min, st.max))
        return real(self, row_groups, **kw)

    monkeypatch.setattr(pq.ParquetFile, "read_row_groups", spy)
    for q in QUERIES[:3]:
        opened.clear()
        got = eng.search(q, k=10, snippets=True)
        ids = [r.doc_id for r in got]
        assert ids and any(r.snippet for r in got), q
        assert opened and len(opened) <= len(ids), (q, opened)
        assert all(any(lo <= d <= hi for d in ids) for lo, hi in opened), q


def test_single_row_group_docstore_serves(bundle, tmp_path):
    """A docstore written as one row group per file (builds before the
    small-group layout) serves the same results and snippets."""
    old = str(tmp_path / "old")
    shutil.copytree(bundle, old)
    for path in _parquet_files(os.path.join(old, "docstore.parquet")):
        t = pq.read_table(path)
        pq.write_table(t, path, row_group_size=len(t), compression="zstd")
        assert pq.ParquetFile(path).metadata.num_row_groups == 1
    new_eng = SearchEngine.load(None, bundle)
    old_eng = SearchEngine.load(None, old)
    for q in QUERIES:
        want = new_eng.search(q, k=10, snippets=True)
        assert old_eng.search(q, k=10, snippets=True) == want, q


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


def test_term_point_reads_open_one_row_group_per_term(
    spark, docs, tmp_path, monkeypatch
):
    """With row groups smaller than the test corpus's postings (the module
    constant patched down), a one-term fetch decodes exactly the row
    groups holding that term's rows: one, or two where its shard rows
    straddle a row-group cut."""
    import google_spark.operators.index_build as ib
    import google_spark.operators.index_query as iq

    monkeypatch.setattr(ib, "POSTINGS_ROW_GROUP_ROWS", 64)
    out = str(tmp_path / "idx")
    ib.write_index(
        ib.build_index(spark, docs, id_col="doc_id", text_col="content"), out
    )
    _assert_key_sorted(os.path.join(out, "postings.parquet"), "term")
    holding = {}  # term -> {(file, row group)} holding its rows
    for path in _parquet_files(os.path.join(out, "postings.parquet")):
        md = pq.read_metadata(path)
        for r in range(md.num_row_groups):
            assert md.row_group(r).num_rows <= 64
            terms = pq.ParquetFile(path).read_row_group(r, columns=["term"])
            for t in set(terms.column("term").to_pylist()):
                holding.setdefault(t, set()).add((path, r))
    assert sum(len(g) for g in holding.values()) > len(holding)  # straddles exist
    assert len({g for gs in holding.values() for g in gs}) > 4  # many groups

    index = ib.read_index(None, out)
    assert index.n_buckets is None
    opened = []
    real = pq.ParquetFile.read_row_groups

    def spy(self, row_groups, **kw):
        opened.extend(row_groups)
        return real(self, row_groups, **kw)

    monkeypatch.setattr(pq.ParquetFile, "read_row_groups", spy)
    sample = sorted(holding)[::7]
    n_one = 0
    for term in sample:
        opened.clear()
        rows = iq._fetch_posting_rows(index, [term])
        assert rows and {r["term"] for r in rows} == {term}
        assert len(opened) == len(holding[term]) <= 2, (term, opened)
        n_one += len(opened) == 1
    assert n_one > len(sample) // 2


def _legacy_segment(spark, cat: SnapshotCatalog, i: int, tmp_path) -> str:
    """Rewrite the snapshot's ``i``-th segment in place in the layout of
    earlier builds; returns its directory."""
    seg_dir = os.path.join(cat.root, cat.manifest().segments[i])
    staged = str(tmp_path / f"legacy_seg{i}")
    _legacy_copy(spark, seg_dir, staged)
    shutil.rmtree(seg_dir)
    shutil.move(staged, seg_dir)
    return seg_dir


@pytest.mark.parametrize("legacy_first", [True, False])
def test_mixed_layout_catalog_matches_oracle(
    spark, docs, base_catalog, tmp_path, monkeypatch, legacy_first
):
    """A catalog holding a ``tb=`` segment of an earlier build and a
    key-sorted one, in either order, serves oracle results on the pyarrow
    route (opening only the query terms' tb= directories of the old
    segment) and on the Spark paths (``matching`` keeps every segment's
    rows; distributed ``wand_topk``), and compacts into one key-sorted
    segment with one row per (term, shard)."""
    from google_spark.functions.xxh import term_bucket
    from google_spark.session import LazyParquet

    base, rest = _halves(docs)
    cat = _catalog_copy(base_catalog, tmp_path)
    if legacy_first:
        legacy = _legacy_segment(spark, cat, 0, tmp_path)
    cat.append_docs(spark, rest, text_col="content")
    if not legacy_first:
        legacy = _legacy_segment(spark, cat, 1, tmp_path)
    assert glob.glob(os.path.join(legacy, "postings.parquet", "tb=*"))
    oracle = OracleIndex(
        [(r.doc_id, r.content) for r in docs.select("doc_id", "content").collect()]
    )

    index = cat.read(spark)
    opened = []
    real = LazyParquet._footer
    monkeypatch.setattr(
        LazyParquet, "_footer", lambda self, p: opened.append(p) or real(self, p)
    )
    for q in QUERIES:
        opened.clear()
        got = [(d, round(s, 6)) for d, s in wand_topk_local(index, q, k=10)]
        assert got == [(d, round(s, 6)) for d, s in oracle.topk(q, k=10)], q
        buckets = {term_bucket(t, LEGACY_N_BUCKETS) for t in oracle.query_terms(q)}
        old = [p for p in opened if p.startswith(legacy)]
        assert old and all(
            int(p.split("tb=")[1].split(os.sep)[0]) in buckets for p in old
        ), (q, old)
        assert any(not p.startswith(legacy) for p in opened), q
        spark_got = [
            (r.doc_id, round(r.score, 6)) for r in wand_topk(index, q, k=10).collect()
        ]
        assert spark_got == got, q
    monkeypatch.undo()
    terms = ["data", "partition", "search", "engine"]
    dfs = {
        r["term"]: r["df"]
        for r in index.matching(terms).groupBy("term").agg(F.sum("df").alias("df")).collect()
    }
    assert dfs == {t: len(oracle.postings[t]) for t in terms if t in oracle.postings}

    cat.compact(spark)
    (seg,) = cat.manifest().segments
    _assert_compact_layout(os.path.join(cat.root, seg))
    keys = pq.read_table(
        os.path.join(cat.root, seg, "postings.parquet"), columns=["term", "shard"]
    )
    pairs = list(zip(keys["term"].to_pylist(), keys["shard"].to_pylist()))
    assert len(pairs) == len(set(pairs))
    _assert_matches_oracle(cat.read(spark), docs)
