"""Distributed inverted-index build (SURVEY.md §2.3 D1-D10, §3.2).

Pipeline (one tokenize pass, Spark-first restatement of the reference's
Indexer dataflow — ref: src/cis5550/jobs/Indexer.java:53-246):

    docs(id, text) --mapInPandas--> doc_terms(doc_id, dl, term, tf, positions)
        [map-side per-doc aggregation: no (doc,term) shuffle at all]
    doc_terms --groupBy(term-bucket, shard)--> applyInPandas encode
        -> postings(term, shard, df, postings BINARY, block metadata)
        [bucketed groups: group count is a knob, not |vocab| * n_shards]
    doc_terms --agg--> stats(n_docs, avgdl)
    postings --groupBy(term)--> terms(term, df, idf)
    postings, terms --repartitionByRange(term)--> key-sorted parquet
        [one row group per term on a point read: write_key_sorted]

Skew design (replaces the reference's rowKey salting, ref:
src/cis5550/jobs/Indexer.java:28-33): postings are sharded by
``shard = pmod(xxhash64(doc_id), n_shards)``. Because the shard is a pure
function of doc_id, every term's posting list is co-partitioned on the SAME
doc universe split — a hot term (df ~ 60% of docs) spreads over all shards,
no reducer ever materializes a full hot posting list, and query-time
intersection/WAND runs per-shard with no cross-shard traffic. At 10^12 docs
you raise ``n_shards``; nothing else changes.
"""

from __future__ import annotations

import os
import shutil
from collections import defaultdict
from dataclasses import dataclass
from typing import TYPE_CHECKING, Iterator

from google_spark.functions.tokenizer import tokenize
from google_spark.session import PARQUET_CODEC, SparkSource, point_read

if TYPE_CHECKING:
    import pandas as pd
    from pyspark.sql import Column, DataFrame, SparkSession

DOC_TERMS_SCHEMA = (
    "doc_id long, dl int, term string, tf int, positions array<int>"
)

POSTINGS_SCHEMA = (
    "term string, shard int, df long, postings binary, "
    "block_last_doc array<long>, block_max_tf array<int>, block_min_dl array<int>"
)


@dataclass
class IndexTables:
    """The built index: postings + per-term stats + corpus scalars.

    ``n_buckets`` is set when the postings may include ``tb=bucket(term)``
    directories (bundles and catalog segments written before key-sorted
    files, see :func:`write_index`); query paths then prune those
    directories to at most |query terms| of them."""

    postings: DataFrame
    terms: DataFrame  # term, df, idf
    n_docs: int
    avgdl: float
    n_buckets: int | None = None
    # The bundle directory the index was read from (read_index); None for
    # in-memory indexes and catalog snapshots. Informational only: the
    # serving tier's reads dispatch on the tables themselves
    # (session.point_read).
    disk_path: str | None = None
    # Sorted int64 array of merge-on-read deleted doc_ids (operators.
    # catalog delete files). Query kernels mask decoded postings against
    # it, so deleted docs vanish from results immediately; df/idf/n_docs/
    # avgdl stay at pre-delete values until a compaction re-finalizes them
    # (Iceberg v2 position-delete semantics). None/empty = no deletes.
    deletes: object | None = None

    def idf_map(self, terms: list[str]) -> dict[str, float]:
        rows = point_read(self.terms, "term", terms, ["term", "idf"])
        return {r["term"]: r["idf"] for r in rows}

    def matching(self, terms: list[str]) -> DataFrame:
        """Postings rows for the given terms. The term filter is pushed to
        the parquet scan, where key-sorted files skip row groups on their
        term min/max; ``tb=`` bucket directories of earlier builds are
        pruned on a predicate of literal expressions Catalyst
        constant-folds, so pruning costs zero extra Spark jobs."""
        from functools import reduce
        from operator import or_

        from pyspark.sql import functions as F

        # term filter first: touching ``postings.filter`` opens a lazy
        # handle's session before any Column is built (Catalyst merges the
        # two filters, so the tb pruning below is unaffected)
        df = self.postings.filter(F.col("term").isin(terms))
        if self.n_buckets and terms and "tb" in df.columns:
            pred = reduce(
                or_,
                [
                    F.col("tb") == term_bucket_col(F.lit(t), self.n_buckets)
                    for t in terms
                ],
            )
            # key-sorted segments unioned beside tb= ones carry a null tb
            df = df.filter(F.col("tb").isNull() | pred)
        return df


def tokenize_docs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "simple",
    stem: bool = False,
) -> DataFrame:
    """docs -> (doc_id, dl, term, tf, positions), one row per (doc, term).

    Tokenization AND per-document term aggregation happen inside one
    ``mapInPandas`` pass (Arrow batches), so the only shuffle in the whole
    build is the groupBy(term, shard) exchange.
    """

    import pandas as pd

    from google_spark.functions.tokenizer import tokenize_code, tokenize_simple

    plain = tokenize_simple if mode == "simple" else tokenize_code

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_doc, out_dl, out_term, out_tf, out_pos = [], [], [], [], []
            for doc_id, text in zip(pdf[id_col].values, pdf[text_col].values):
                per_term: dict[str, list[int]] = defaultdict(list)
                if not stem:
                    # fast path: no (term, pos) tuple churn
                    toks_flat = plain(text)
                    dl = len(toks_flat)
                    for pos, term in enumerate(toks_flat, start=1):
                        per_term[term].append(pos)
                else:
                    toks = tokenize(text, mode=mode, stem=stem)
                    dl = 0
                    for term, pos in toks:
                        per_term[term].append(pos)
                        dl = pos if pos > dl else dl
                for term, positions in per_term.items():
                    out_doc.append(doc_id)
                    out_dl.append(dl)
                    out_term.append(term)
                    out_tf.append(len(positions))
                    out_pos.append(positions)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out_doc, dtype="int64"),
                    "dl": pd.Series(out_dl, dtype="int32"),
                    "term": out_term,
                    "tf": pd.Series(out_tf, dtype="int32"),
                    # object dtype even when empty: a zero-row batch would
                    # otherwise default to float64, which Arrow cannot cast
                    # to list<int>
                    "positions": pd.Series(out_pos, dtype="object"),
                }
            )

    return docs.select(id_col, text_col).mapInPandas(gen, schema=DOC_TERMS_SCHEMA)


def encode_sorted_terms(shard: int, term_arrays) -> pd.DataFrame:
    """Shared POSTINGS_SCHEMA row assembly for the encode AND merge
    kernels: ``term_arrays`` yields (term, doc_ids, tfs, dls, positions)
    with arrays already doc_id-sorted; each becomes one compressed posting
    row with block metadata. One definition keeps the build's output and
    catalog compaction's (``catalog._rewrite_postings``) structurally
    identical by construction."""
    import pandas as pd

    from google_spark.functions.codec import block_metadata_np, encode_postings_np

    out: dict[str, list] = {
        k: []
        for k in (
            "term", "df", "postings",
            "block_last_doc", "block_max_tf", "block_min_dl",
        )
    }
    for term, doc_ids, tfs, dls, positions in term_arrays:
        blob = encode_postings_np(doc_ids, tfs, dls, positions)
        last_doc, max_tf, min_dl = block_metadata_np(doc_ids, tfs, dls)
        out["term"].append(term)
        out["df"].append(len(doc_ids))
        out["postings"].append(blob)
        out["block_last_doc"].append(last_doc.tolist())
        out["block_max_tf"].append(max_tf.tolist())
        out["block_min_dl"].append(min_dl.tolist())
    return pd.DataFrame(
        {
            "term": out["term"],
            "shard": pd.Series([shard] * len(out["term"]), dtype="int32"),
            "df": pd.Series(out["df"], dtype="int64"),
            "postings": out["postings"],
            "block_last_doc": pd.Series(out["block_last_doc"], dtype="object"),
            "block_max_tf": pd.Series(out["block_max_tf"], dtype="object"),
            "block_min_dl": pd.Series(out["block_min_dl"], dtype="object"),
        }
    )


def _encode_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
    """applyInPandas kernel: one (term-bucket, shard) group -> one postings
    row PER TERM in the bucket. Per-term work is fully vectorized (NumPy
    argsort + LEB128 scatter encode, bit-identical to the scalar reference
    codec, parity-tested); batching many terms per Spark group keeps the
    framework's per-group cost off the long tail of rare terms."""
    import numpy as np

    def term_arrays():
        for term, g in pdf.groupby("term", sort=False):
            doc_ids = g["doc_id"].to_numpy()
            order = np.argsort(doc_ids, kind="stable")
            yield (
                term,
                doc_ids[order],
                g["tf"].to_numpy()[order],
                g["dl"].to_numpy()[order],
                g["positions"].to_numpy()[order],
            )

    return encode_sorted_terms(int(pdf["shard"].iloc[0]), term_arrays())


def build_postings(doc_terms: DataFrame, n_shards: int = 8) -> DataFrame:
    """doc_terms -> sharded, delta-varint-compressed posting lists.

    The encode exchange groups by (term-bucket, shard), not (term, shard):
    group count is the fixed ``N_TERM_BUCKETS * n_shards`` instead of
    ``|vocab| * n_shards`` — at web scale a per-term grouping would pay the
    framework's per-group cost hundreds of millions of times for singleton
    rare-term groups, while hash-bucketed groups stay uniformly sized
    (a hot term still spreads over all doc-shards exactly as before; the
    output rows are byte-identical either way)."""
    from pyspark.sql import functions as F

    sharded = doc_terms.withColumn(
        "shard", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_shards)).cast("int")
    ).withColumn("tb", term_bucket_col("term"))
    return sharded.groupBy("tb", "shard").applyInPandas(
        _encode_bucket, schema=POSTINGS_SCHEMA
    )


def corpus_stats(doc_terms: DataFrame, total_docs: int) -> tuple[int, float]:
    """(n_docs, avgdl). ``total_docs`` comes from the source table so docs
    that tokenize to nothing still count toward N and the avgdl denominator
    (matching the oracle). dl is repeated per (doc, term) row, so take
    first(dl) per doc before summing."""
    from pyspark.sql import functions as F

    per_doc = doc_terms.groupBy("doc_id").agg(F.first("dl").alias("dl"))
    row = per_doc.agg(F.sum("dl").alias("total_dl")).collect()[0]
    total_dl = int(row["total_dl"] or 0)
    return total_docs, (total_dl / total_docs if total_docs else 0.0)


def term_stats(postings: DataFrame, n_docs: int) -> DataFrame:
    """Global df + BM25 idf per term (the analog of the reference's IDF
    finalize pass, ref: src/cis5550/jobs/Indexer.java:234-246, with
    ln(N/df) replaced by the BM25 idf)."""
    from pyspark.sql import functions as F

    return postings.groupBy("term").agg(F.sum("df").alias("df")).withColumn(
        "idf",
        F.log((F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0),
    )


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "simple",
    stem: bool = False,
    n_shards: int = 8,
    total_docs: int | None = None,
    max_postings_per_term: int | None = None,
) -> IndexTables:
    """Build the index in ONE shuffled pipeline: tokens stream from the
    mapInPandas scan straight into the (term, shard) exchange and the
    encode kernel — the 7M-row token relation is never cached (caching it
    measurably anti-scales: columnar cache construction of array columns
    contends on allocation at high core counts, and at 10^12 files it
    wouldn't fit anything anyway). Corpus stats come from a separate cheap
    JVM-side token-count scan (simple mode) so nothing is computed twice in
    Python.

    ``max_postings_per_term`` enables STATIC INDEX PRUNING (Carmel et al.,
    SIGIR 2001 — public): keep only the top-N postings per term by
    (tf desc, doc_id asc) before encoding. A serving-tier trade: hot terms
    ("the", a ubiquitous import) stop carrying corpus-sized lists, at the
    cost of recall on low-tf matches. df/idf follow the PRUNED lists
    (internally consistent scoring; idf shifts up slightly for pruned
    terms), while n_docs/avgdl stay corpus-true. Cost: one additional
    term-keyed exchange for the global rank — WindowGroupLimit cuts each
    map task to N rows per term BEFORE the exchange, so the shuffle moves
    at most N x tasks rows per term, not the raw posting count."""
    from pyspark.sql import functions as F

    if total_docs is None:
        total_docs = docs.count()
    doc_terms = tokenize_docs(docs, id_col=id_col, text_col=text_col, mode=mode, stem=stem)
    doc_terms_full = doc_terms  # corpus stats must see UNPRUNED tokens
    if max_postings_per_term is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("term").orderBy(
            F.desc("tf"), F.asc("doc_id")
        )
        doc_terms = (
            doc_terms.withColumn("_prank", F.row_number().over(w))
            .filter(F.col("_prank") <= max_postings_per_term)
            .drop("_prank")
        )
    postings = build_postings(doc_terms, n_shards=n_shards).persist()
    postings.count()

    if mode == "simple" and not stem:
        # JVM-side dl (identical token contract: lower -> [a-z0-9]+ runs ->
        # len 2..40); whole-stage codegen, no Python.
        toks = F.filter(
            F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
            lambda t: (F.length(t) >= 2) & (F.length(t) <= 40),
        )
        # null text must count as 0 tokens (matching the Python tokenizer),
        # not size(null) which is NULL or -1 depending on legacy config
        dl_col = F.when(F.col(text_col).isNull(), F.lit(0)).otherwise(F.size(toks))
        row = docs.agg(F.sum(dl_col).alias("total_dl")).collect()[0]
        total_dl = int(row["total_dl"] or 0)
        n_docs, avgdl = total_docs, (total_dl / total_docs if total_docs else 0.0)
    else:
        n_docs, avgdl = corpus_stats(doc_terms_full, total_docs)

    terms = term_stats(postings, n_docs).persist()
    terms.count()
    return IndexTables(postings=postings, terms=terms, n_docs=n_docs, avgdl=avgdl)


N_TERM_BUCKETS = 64


def term_bucket_col(term: Column | str, n_buckets: int = N_TERM_BUCKETS) -> Column:
    """Deterministic term bucket: the encode exchange's group key, and the
    ``tb`` directory of posting files written before key-sorted files (a
    query touching k terms scans at most k of their ``n_buckets``
    directories; the reference instead salts rowKeys to spread the range
    partitioner, ref: src/cis5550/jobs/Indexer.java:28-33)."""
    from pyspark.sql import functions as F

    return F.pmod(F.xxhash64(term), F.lit(n_buckets)).cast("int")


# Rows per row group of the key-sorted posting and term files. Files hold
# disjoint key ranges and row groups ascending ones, so a point read of one
# key decodes one group of at most this many rows (two where the key's few
# shard rows straddle a row-group cut).
POSTINGS_ROW_GROUP_ROWS = 2048


def write_key_sorted(df: DataFrame, path: str, key: str) -> None:
    """Write ``df`` as parquet range-partitioned by ``key`` and sorted by
    (``key``, shard) inside each file, in row groups of at most
    :data:`POSTINGS_ROW_GROUP_ROWS` rows — the layout of the reference's
    range-partitioned KVS tables, where one key is one key range (ref:
    src/cis5550/jobs/RankScore.java:112,152). Files hold disjoint key
    ranges and row groups ascending ones, so a point read's footer min/max
    on ``key`` selects the one row group holding a key (two at a
    row-group cut); AQE sizes the file count. Min/max
    statistics are written for ``key`` only: nothing prunes on the other
    columns, and a blob column's min/max costs up to a KB of footer per
    file."""
    sort = [key] + (["shard"] if "shard" in df.columns else [])
    (
        df.repartitionByRange(key)
        .sortWithinPartitions(*sort)
        .write.mode("overwrite")
        .option("parquet.block.row.count.limit", POSTINGS_ROW_GROUP_ROWS)
        .option("parquet.column.statistics.enabled", False)
        .option(f"parquet.column.statistics.enabled#{key}", True)
        .parquet(path)
    )


def write_key_sorted_tables(
    postings: DataFrame, terms: DataFrame, out_dir: str, names: tuple[str, str], key: str
) -> None:
    """``postings`` and the ``terms`` derived from them as the key-sorted
    tables ``out_dir/names[0]`` and ``out_dir/names[1]``. Each range
    sampler runs its input's plan once more, so the postings are persisted
    across both writes unless they are cached already: the encode runs
    once."""
    own = not postings.is_cached
    if own:
        postings.persist()
    try:
        write_key_sorted(postings, f"{out_dir}/{names[0]}", key)
        write_key_sorted(terms, f"{out_dir}/{names[1]}", key)
    finally:
        if own:
            postings.unpersist()


def write_index(index: IndexTables, out_dir: str) -> None:
    """Persist the index as key-sorted parquet (:func:`write_key_sorted`):
    postings and terms range-sorted by term, so a query term's postings
    are one row group found through the footers. The atomic-publish analog
    of the reference's index2->index rename (ref: src/cis5550/jobs/
    Indexer.java:245-246) is parquet's atomic directory commit.

    Merge-on-read deletes travel with the bundle: a snapshot read from the
    catalog (operators.catalog) may carry tombstoned doc_ids whose postings
    are still in the blobs — those are persisted as ``deletes.parquet`` and
    restored by :func:`read_index`, so a published bundle can never
    resurrect deleted documents (compact() first if you want a
    tombstone-free bundle)."""
    import pyarrow as pa

    write_key_sorted_tables(
        index.postings, index.terms, out_dir,
        ("postings.parquet", "terms.parquet"), "term",
    )
    # n_buckets 0: no tb= directories (bundles from earlier builds carry
    # their bucket count here, and read_index prunes on it)
    write_sidecar(
        f"{out_dir}/stats.parquet",
        pa.table(
            {
                "n_docs": pa.array([index.n_docs], pa.int64()),
                "avgdl": pa.array([index.avgdl], pa.float64()),
                "n_buckets": pa.array([0], pa.int32()),
            }
        ),
    )
    # OVERWRITE semantics for the whole bundle: a same-path rewrite from a
    # tombstone-free index must clear any stale deletes.parquet left by an
    # earlier delete_from_index, or the rebuilt docs stay invisibly masked
    # forever (write_trigram_index has the same rule)
    shutil.rmtree(f"{out_dir}/deletes.parquet", ignore_errors=True)
    if index.deletes is not None and len(index.deletes):
        append_delete_file(f"{out_dir}/deletes.parquet", index.deletes)


def read_delete_file(del_dir: str):
    """Sorted unique int64 doc_id array from a ``deletes.parquet``
    directory (None when absent/empty). Readers union ALL part files, so
    tombstoning is append-only — see :func:`append_delete_file`. Only
    committed parts are read (:func:`~google_spark.session.parquet_files`),
    so a crashed writer's torn staging file never poisons a bundle read."""
    import numpy as np

    from google_spark.session import LazyParquet

    if not os.path.isdir(del_dir):
        return None
    tbl = LazyParquet(del_dir).read(["doc_id"])
    if tbl is None or not tbl.num_rows:
        return None
    return np.unique(np.asarray(tbl.column("doc_id").to_pylist(), dtype=np.int64))


def append_delete_file(del_dir: str, doc_ids) -> int:
    """Tombstone ``doc_ids`` into a bundle's ``deletes.parquet`` directory
    — an O(|ids|) pyarrow metadata write, no Spark job, no posting
    touched (the standalone-bundle twin of SnapshotCatalog.delete_docs).
    Append-only and crash-safe: the new ids land as ONE extra part file
    published via tmp-write + atomic rename; readers (:func:`read_index`,
    read_trigram_index, read_fielded_index) np.unique the union of all
    parts, so re-tombstoning is idempotent and a crashed writer leaves
    only an invisible ``.tmp`` orphan. Returns how many ids were newly
    tombstoned. Delete-file growth is bounded by the compaction cadence,
    exactly as for the catalog's merge-on-read files."""
    import numpy as np

    ids = np.unique(np.asarray(list(doc_ids), dtype=np.int64))
    existing = read_delete_file(del_dir)
    if existing is not None:
        ids = np.setdiff1d(ids, existing)
    if not len(ids):
        return 0
    os.makedirs(del_dir, exist_ok=True)
    import uuid

    # unique part name: a scandir-count name would let two concurrent
    # deleters compute the SAME path and the later rename silently clobber
    # the earlier writer's tombstones (lost deletes). The count prefix
    # stays as a readability hint only. The staging file is '_'-prefixed
    # so even a raw directory read never sees a torn write.
    n_parts = sum(
        1 for e in os.scandir(del_dir) if e.name.startswith("part-del-")
    )
    final = os.path.join(
        del_dir, f"part-del-{n_parts:05d}-{uuid.uuid4().hex[:8]}.parquet"
    )
    write_doc_id_file(final, ids)
    return int(len(ids))


def write_doc_id_file(path: str, ids) -> None:
    """One doc_id parquet file, written with :func:`write_table_file`."""
    import pyarrow as pa

    write_table_file(path, pa.table({"doc_id": pa.array(ids, type=pa.int64())}))


def write_table_file(path: str, table) -> None:
    """One parquet file in the engine's codec, written atomically with
    pyarrow (no Spark job): staged under a '_'-prefixed name that
    directory readers skip, then renamed into place."""
    import pyarrow.parquet as pq

    tmp = os.path.join(os.path.dirname(path), "_" + os.path.basename(path) + ".tmp")
    pq.write_table(table, tmp, compression=PARQUET_CODEC)
    os.replace(tmp, path)


def write_sidecar(dir_path: str, table) -> None:
    """Replace the parquet directory ``dir_path`` with one file holding
    ``table`` (a Spark overwrite's semantics, without the Spark job)."""
    shutil.rmtree(dir_path, ignore_errors=True)
    os.makedirs(dir_path)
    write_table_file(os.path.join(dir_path, "part-00000.parquet"), table)


def delete_from_index(out_dir: str, doc_ids) -> int:
    """Merge-on-read delete against a PUBLISHED word-index bundle (see
    :func:`write_index`): ids land in ``{out_dir}/deletes.parquet`` and
    every subsequent :func:`read_index` masks them in the query kernels.
    df/idf/n_docs stay pre-delete until a compacting rewrite — the same
    Iceberg v2 position-delete semantics as SnapshotCatalog."""
    return append_delete_file(f"{out_dir}/deletes.parquet", doc_ids)


def read_index(spark: SparkSource, out_dir: str) -> IndexTables:
    """Open a published word index (see :func:`write_index`) with no Spark
    job: the corpus scalars and deletes are pyarrow reads, and the postings
    and terms tables are :class:`~google_spark.session.LazyParquet` handles
    that open through ``spark`` (session, opener, or None for get_spark)
    only when a distributed path first touches them."""
    from google_spark.session import LazyParquet

    row = LazyParquet(f"{out_dir}/stats.parquet").read().to_pylist()[0]
    deletes = read_delete_file(f"{out_dir}/deletes.parquet")
    return IndexTables(
        postings=LazyParquet(f"{out_dir}/postings.parquet", spark),
        terms=LazyParquet(f"{out_dir}/terms.parquet", spark),
        n_docs=int(row["n_docs"]),
        avgdl=float(row["avgdl"]),
        n_buckets=int(row.get("n_buckets") or 0) or None,
        disk_path=out_dir,
        deletes=deletes,
    )
