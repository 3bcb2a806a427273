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

from collections import defaultdict
from dataclasses import dataclass
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from google_spark.functions.codec import block_metadata, encode_postings
from google_spark.functions.tokenizer import tokenize
from google_spark.session import PARQUET_CODEC, SparkSource

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

    ``n_buckets`` is set when the postings were read from a
    bucket-partitioned on-disk layout (see :func:`write_index`); query
    paths then prune to at most |query terms| partitions."""

    postings: DataFrame
    terms: DataFrame  # term, df, idf
    n_docs: int
    avgdl: float
    n_buckets: int | None = None
    # Set when the index was read from (or written to) a bucket-partitioned
    # parquet layout: enables the serving tier's direct pyarrow point
    # lookups (index_query._fetch_posting_rows) — the KVS `get` analog
    # with no Spark job on the query path. A snapshot with multiple append
    # segments (operators.catalog) carries a LIST of segment dirs; the
    # point-read tier unions their pyarrow datasets.
    disk_path: str | list[str] | None = None
    # Sorted int64 array of merge-on-read deleted doc_ids (operators.
    # catalog delete files). Query kernels mask decoded postings against
    # it, so deleted docs vanish from results immediately; df/idf/n_docs/
    # avgdl stay at pre-delete values until a compaction re-finalizes them
    # (Iceberg v2 position-delete semantics). None/empty = no deletes.
    deletes: object | None = None

    def idf_map(self, terms: list[str]) -> dict[str, float]:
        rows = self.terms.filter(F.col("term").isin(terms)).collect()
        return {r["term"]: r["idf"] for r in rows}

    def matching(self, terms: list[str]) -> DataFrame:
        """Postings rows for the given terms, with partition pruning on the
        ``tb`` bucket column when the index is disk-backed. The bucket
        predicate is built from literal expressions Catalyst constant-folds,
        so pruning costs zero extra Spark jobs."""
        from functools import reduce
        from operator import or_

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
            df = df.filter(pred)
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
    row with block metadata. One definition keeps the batch-build and
    incremental-merge outputs structurally identical by construction."""
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


def build_postings(
    doc_terms: DataFrame, n_shards: int = 8, n_buckets: int | None = None
) -> DataFrame:
    """doc_terms -> sharded, delta-varint-compressed posting lists.

    The encode exchange groups by (term-bucket, shard), not (term, shard):
    group count is the fixed knob ``n_buckets * n_shards`` instead of
    ``|vocab| * n_shards`` — at web scale a per-term grouping would pay the
    framework's per-group cost hundreds of millions of times for singleton
    rare-term groups, while hash-bucketed groups stay uniformly sized
    (a hot term still spreads over all doc-shards exactly as before; the
    output rows are byte-identical either way). Size ``n_buckets`` (default
    :data:`N_TERM_BUCKETS`) so one group's postings — roughly
    total_postings / (n_buckets * n_shards) — fits executor memory."""
    if n_buckets is None:
        n_buckets = N_TERM_BUCKETS
    sharded = doc_terms.withColumn(
        "shard", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_shards)).cast("int")
    ).withColumn("tb", term_bucket_col("term", n_buckets))
    return sharded.groupBy("tb", "shard").applyInPandas(
        _encode_bucket, schema=POSTINGS_SCHEMA
    )


def corpus_stats(doc_terms: DataFrame, total_docs: int) -> tuple[int, float]:
    """(n_docs, avgdl). ``total_docs`` comes from the source table so docs
    that tokenize to nothing still count toward N and the avgdl denominator
    (matching the oracle). dl is repeated per (doc, term) row, so take
    first(dl) per doc before summing."""
    per_doc = doc_terms.groupBy("doc_id").agg(F.first("dl").alias("dl"))
    row = per_doc.agg(F.sum("dl").alias("total_dl")).collect()[0]
    total_dl = int(row["total_dl"] or 0)
    return total_docs, (total_dl / total_docs if total_docs else 0.0)


def term_stats(postings: DataFrame, n_docs: int) -> DataFrame:
    """Global df + BM25 idf per term (the analog of the reference's IDF
    finalize pass, ref: src/cis5550/jobs/Indexer.java:234-246, with
    ln(N/df) replaced by the BM25 idf)."""
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
    persist_tokens: bool = True,  # kept for API compat; tokens now stream
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


def term_bucket_col(term: Column | str, n_buckets: int = N_TERM_BUCKETS) -> F.Column:
    """Deterministic term bucket for partition pruning: a query touching k
    terms scans at most k of ``n_buckets`` partitions (the Iceberg
    bucket(term) analog; the reference instead salts rowKeys to spread the
    range partitioner, ref: src/cis5550/jobs/Indexer.java:28-33)."""
    return F.pmod(F.xxhash64(term), F.lit(n_buckets)).cast("int")


def write_bucketed_postings(
    postings: DataFrame,
    path: str,
    key: str = "term",
    bucket: str = "tb",
    n_buckets: int = N_TERM_BUCKETS,
) -> None:
    """Write (``key``, shard, ...) posting rows as parquet partitioned by
    ``bucket=bucket(key)``: exactly one file per bucket directory, rows
    sorted by (key, shard). One file means a point read opens one footer
    per bucket it touches; sorted keys compress better and give each row
    group min/max statistics on ``key`` for pushdown. Each task writes
    whole buckets, so write parallelism is at most min(n_buckets, shuffle
    partitions): raise ``n_buckets`` to spread a larger index's write."""
    (
        postings.withColumn(bucket, term_bucket_col(key, n_buckets))
        .repartition(bucket)
        .sortWithinPartitions(bucket, key, "shard")
        .write.mode("overwrite")
        .partitionBy(bucket)
        .parquet(path)
    )


def write_index(
    index: IndexTables, out_dir: str, n_buckets: int = N_TERM_BUCKETS
) -> None:
    """Persist the index as parquet partitioned by ``tb=bucket(term)`` so
    query-time term filters prune directories (Iceberg-style bucket
    partitioning without a catalog), one term-sorted file per bucket
    (:func:`write_bucketed_postings`). The atomic-publish analog of the
    reference's index2->index rename (ref: src/cis5550/jobs/
    Indexer.java:245-246) is parquet's atomic directory commit.

    Merge-on-read deletes travel with the bundle: a snapshot read from the
    catalog (operators.catalog) may carry tombstoned doc_ids whose postings
    are still in the blobs — those are persisted as ``deletes.parquet`` and
    restored by :func:`read_index`, so a published bundle can never
    resurrect deleted documents (compact() first if you want a
    tombstone-free bundle)."""
    write_bucketed_postings(
        index.postings, f"{out_dir}/postings.parquet", n_buckets=n_buckets
    )
    index.terms.write.mode("overwrite").parquet(f"{out_dir}/terms.parquet")
    spark = index.postings.sparkSession
    spark.createDataFrame(
        [(index.n_docs, index.avgdl, n_buckets)],
        "n_docs long, avgdl double, n_buckets int",
    ).write.mode("overwrite").parquet(f"{out_dir}/stats.parquet")
    if index.deletes is not None and len(index.deletes):
        spark.createDataFrame(
            [(int(x),) for x in index.deletes], "doc_id long"
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{out_dir}/deletes.parquet"
        )
    else:
        # OVERWRITE semantics for the whole bundle: a same-path rewrite
        # from a tombstone-free index must clear any stale deletes.parquet
        # left by an earlier delete_from_index, or the rebuilt docs stay
        # invisibly masked forever (write_trigram_index has the same rule)
        import shutil

        shutil.rmtree(f"{out_dir}/deletes.parquet", ignore_errors=True)


def read_delete_file(del_dir: str):
    """Sorted unique int64 doc_id array from a ``deletes.parquet``
    directory (None when absent/empty). Readers union ALL part files, so
    tombstoning is append-only — see :func:`append_delete_file`."""
    import os

    import numpy as np

    if not os.path.isdir(del_dir):
        return None
    import pyarrow.parquet as pq

    # enumerate committed parts explicitly: pyarrow's directory discovery
    # only skips '.'/'_' basename PREFIXES, so a crashed writer's torn
    # '*.parquet.tmp' staging file would be read as parquet and poison
    # every subsequent bundle read
    parts = sorted(
        e.path
        for e in os.scandir(del_dir)
        if e.is_file()
        and e.name.endswith(".parquet")
        and not e.name.startswith((".", "_"))
    )
    if not parts:
        return None
    ids = np.unique(
        pq.read_table(parts, columns=["doc_id"])
        .column("doc_id")
        .to_numpy()
        .astype(np.int64)
    )
    return ids if len(ids) else None


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
    import os

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
    """One doc_id parquet file in the engine's codec, written atomically
    with pyarrow (no Spark job): staged under a '_'-prefixed name that
    directory readers skip, then renamed into place."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = os.path.join(os.path.dirname(path), "_" + os.path.basename(path) + ".tmp")
    pq.write_table(
        pa.table({"doc_id": pa.array(ids, type=pa.int64())}),
        tmp,
        compression=PARQUET_CODEC,
    )
    os.replace(tmp, path)


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
    import pyarrow.parquet as pq

    from google_spark.session import LazyParquet

    row = pq.read_table(f"{out_dir}/stats.parquet").to_pylist()[0]
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


def index_stats(index: IndexTables) -> DataFrame:
    """One-row DataFrame[n_docs, n_terms, n_postings, avgdl] — index
    introspection for capacity planning and build validation (the
    reference exposes nothing comparable; operators eyeball KVS row
    counts). n_postings is the total inverted-list entry count
    (sum of per-term document frequencies), i.e. distinct (doc, term)
    pairs — the number that sizes the index on disk. One vocabulary-sized
    aggregate; the postings themselves are never scanned."""
    return index.terms.agg(
        F.lit(int(index.n_docs)).cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_terms"),
        # sum over zero rows is NULL, not 0 (empty/fully-filtered corpus)
        F.coalesce(F.sum("df"), F.lit(0)).cast("long").alias("n_postings"),
        F.round(F.lit(float(index.avgdl)), 4).alias("avgdl"),
    )
